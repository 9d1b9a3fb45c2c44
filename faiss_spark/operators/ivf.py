"""IVF (inverted-file) index: the partitioned-table pattern.

Reference: faiss/IndexIVF.h:33-122 (Level1Quantizer + IndexIVF),
faiss/IndexIVF.cpp:302-544 (search lifecycle, SURVEY §3.2),
contrib/ivf_tools.py:26-57 (big-batch search grouped by probed list — the
shape we use).

The faiss mapping onto Spark:

  train   Level1Quantizer::train_q1 = our KMeans on a seeded sample
          → centroids artifact (small, broadcastable).
  add     encode_vectors → (list_no, id, vec|code) → **Parquet partitioned by
          list_no** (reference ArrayInvertedLists/OnDiskInvertedLists ARE
          this layout, faiss/invlists/InvertedLists.h:30-111).
  search  one lifecycle for every codec (IndexIVF::search_preassigned),
          written once as three parts:

          planner  ``_probe_planner`` — stage A, the coarse top-nprobe
                   per query (= quantizer->search, IndexIVF.cpp:330):
                   k-means argsort by metric, RCQ/LSQ beam, IMI/MIQ2
                   grid, nested or graph-routed router, plus the
                   ``max_codes`` nearest-first scan budget.
          scanner  one InvertedListScanner per codec (``_FlatScanner``,
                   ``_SQScanner``, ``_PQScanner``, ``_AQScanner``,
                   ``_PQRScanner``): built on the driver, broadcast once,
                   ``bind(list_no, Q, qsel, acc, scratch)`` then push code
                   blocks into a TopKAccumulator (flat also scans ranges).
          route    ``_scan_probed_lists`` — the driver route: bounded
                   query collect, probes planned on the driver, the
                   ``list_no IN (cells)`` filter as Catalyst **partition
                   pruning** (faiss's nprobe cell selection, done by the
                   planner), one mapInArrow scan, the window top-k.
                   ``_preassigned_cogrouped`` — the distributed route:
                   probes assigned executor-side, probes ⟂⟂ codes
                   cogrouped on list_no, one generic ``scan_cell``.
                   Both run the same ``_scan_lists`` loop and fill the
                   same IVFSearchStats counters.

          Every ``.search`` and ``*_search_preassigned`` is a planner +
          scanner + route call; a driver search past the query bound
          falls back to its public distributed twin.

At 100 TB: the codes table is partition-pruned to nprobe/nlist of its
files; the probe set (qid → list_no) stays a broadcast; the only shuffle
is the final candidate merge. nprobe=nlist degenerates to exact search.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from faiss_spark.kernels import (
    SIMILARITY_METRICS,
    TopKAccumulator,
    arrow_binary_matrix,
    arrow_i64,
    arrow_list_matrix,
    as_matrix,
    pairwise_distances,
)
from faiss_spark.operators.cluster import KMeans, KMeansModel
from faiss_spark.sources import fsio
from faiss_spark.operators.codecs import ProductQuantizerModel

#: ceiling on rows × d the driver-planned IVF search will collect for
#: probe assignment (~256 MB of float64 at the default); beyond it
#: IVFIndex.search transparently uses the search_preassigned join plan.
#: Module-level so deployments (and tests) can tune it.
MAX_DRIVER_QUERY_CELLS = 32_000_000


def _write_bucketed_codes(
    index, path: str, cols: tuple, prefix: str, nbuckets: int | None
):
    """Shared CLUSTERED BY (list_no) writer behind every index's
    ``save_bucketed`` (the reference's precomputed on-disk invlists
    grouping, invlists/OnDiskInvertedLists.h:60): the bucketed scan
    carries HashPartitioning(list_no), so the preassigned cogroups'
    corpus side becomes scan-only — zero exchanges per search. ``cols``
    is the index family's codes payload (raw ``vec``, SQ/PQ/AQ
    ``code``, PQR ``code, rcode``)."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    spark = index.codes.sparkSession
    if nbuckets is None:
        nbuckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    name = prefix + hashlib.md5(path.encode()).hexdigest()[:12]
    sel = index.codes.select(*cols)
    ddl = sel._jdf.schema().toDDL()
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        # pre-shuffling to the bucket hash keeps it one file per
        # bucket instead of (tasks × buckets) small files
        sel.repartition(nbuckets, "list_no")
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(nbuckets, "list_no")
        .saveAsTable(name)
    )
    index._save_artifact(spark, path)
    fsio.write_json(
        spark,
        os.path.join(path, "_bucket_meta.json"),
        {"nbuckets": int(nbuckets), "table": name, "ddl": ddl},
    )
    index.codes = spark.table(name)
    index.path = path
    return index


def _attach_codes_table(spark: SparkSession, path: str) -> DataFrame:
    """(Re)open a persisted codes location: the bucketed table when a
    ``_bucket_meta.json`` marker exists (grouping provable → cogroups
    skip the corpus exchange), plain partitioned parquet otherwise.
    Shared by every index family's ``load``."""
    bucket_meta = os.path.join(path, "_bucket_meta.json")
    if fsio.exists(spark, bucket_meta):
        return IVFIndex._bucketed_table(
            spark, path, fsio.read_json(spark, bucket_meta)
        )
    return spark.read.parquet(path)


def _store_codes(index, codes: DataFrame | None, path: str | None):
    """Shared add/save tail of the IVF families: without a path the
    in-memory frame becomes the codes table; with one, write it
    partitioned by list_no (the layout partition pruning reads) plus the
    family's ``_save_artifact`` files, and re-point the index at the
    stored copy (write_index, reference faiss/index_io.h:38)."""
    if codes is None:
        raise ValueError("index has no codes table; call add() first")
    if path is None:
        index.codes = codes
        return index
    spark = codes.sparkSession
    codes.repartition("list_no").write.mode("overwrite").partitionBy(
        "list_no"
    ).parquet(path)
    index._save_artifact(spark, path)
    index.codes = spark.read.parquet(path)
    index.path = path
    return index


def _encode_lists(vectors: DataFrame, id_col: str, vec_col: str, state, encode):
    """Map-only frozen-artifact encode shared by the coded IVF families
    (add() and the streaming incremental writer): broadcast ``state``,
    run ``encode(state, X) -> (lists, codes)`` on each zero-copy Arrow
    block, emit (list_no, id, code) rows — no per-row objects, no
    shuffle."""
    bc = vectors.sparkSession.sparkContext.broadcast(state)

    def enc(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_id_vec_blocks

        st = bc.value
        for ids, X, _ in arrow_id_vec_blocks(batches):
            lists, codes = encode(st, X)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(lists.astype(np.int32), pa.int32()),
                    pa.array(ids, pa.int64()),
                    pa.array(list(map(bytes, codes)), pa.binary()),
                ],
                names=["list_no", "id", "code"],
            )

    src = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    return src.mapInArrow(enc, schema="list_no int, id bigint, code binary")


def _coarse_assign(X: np.ndarray, C, cq, metric: str) -> np.ndarray:
    """Top-1 coarse cell per row: an additive coarse's beam, or the
    nearest k-means centroid by metric."""
    if cq is not None:
        return cq.assign_np(X)
    D = pairwise_distances(X, C, metric)
    return np.argmax(D, 1) if metric in SIMILARITY_METRICS else np.argmin(D, 1)


def collect_queries_bounded(
    queries, qid_col: str, qvec_col: str, op: str, d: int | None = None,
    dtype=None, to_matrix=None, fallback=None,
):
    """Driver-side query materialization with a hard bound (the same
    MAX_DRIVER_QUERY_CELLS budget IVFIndex.search uses for its
    auto-fallback): driver-planned searches hold O(nq·d) floats plus
    per-query LUTs, so past the bound fail loudly with the scale-path
    guidance instead of silently OOMing the driver. Paths with a
    fully-distributed twin (IVFIndex.search → search_preassigned) fall
    back instead of raising.

    Collects ONE limited job and checks the collected length, so the
    rows that passed the bound check ARE the rows returned — a derived /
    nondeterministic query frame is never recomputed between check and
    collect. Callers that already know the dimensionality (every index
    carries it in its centroids/codebooks) pass ``d`` and skip the
    1-row dimension probe entirely. ``dtype`` picks the matrix dtype
    (default float64, the oracle-exact path); ``to_matrix`` overrides the
    column→matrix conversion entirely (binary indexes collect int64 word
    arrays, not float vectors) — this is the ONLY query-collect path in
    the repo (VERDICT r7 #5), so every driver-planned search family
    (brute-force, binary, NSG, IVF, fast-scan) shares the same one-job
    budget and the same actionable error. ``fallback`` (a zero-arg
    callable returning a DataFrame) switches overflow from raise to
    auto-fallback — the caller's distributed twin — and is returned
    verbatim; callers that pass it must type-check the result."""
    qpdf = collect_query_frame_bounded(
        queries, qid_col, qvec_col, op, d=d, fallback=fallback
    )
    if isinstance(qpdf, DataFrame):
        return qpdf
    if to_matrix is not None:
        Q = to_matrix(qpdf[qvec_col])
    else:
        Q = as_matrix(qpdf[qvec_col], dtype=dtype or np.float64)
    return qpdf[qid_col].to_numpy(np.int64), Q


def collect_query_frame_bounded(
    queries, qid_col: str, qvec_col: str, op: str, d: int | None = None,
    fallback=None,
):
    """pandas-frame variant of collect_queries_bounded — same one-job
    budget, actionable error, and optional distributed-twin ``fallback``
    — for callers that consume the raw column objects row-wise (the
    binary-hash probe builders)."""
    if d is None:
        first = (
            queries.select(F.size(F.col(qvec_col)).alias("d")).limit(1).first()
        )
        d = int(first["d"]) if first else 1
    max_rows = max(1, MAX_DRIVER_QUERY_CELLS // max(1, d))
    qpdf = queries.select(qid_col, qvec_col).limit(max_rows + 1).toPandas()
    if len(qpdf) > max_rows:
        if fallback is not None:
            return fallback()
        raise ValueError(
            f"{op}: query side exceeds the driver-planned bound "
            f"({max_rows} rows at d={d}). Chunk the queries "
            "(operators.knn.knn_chunked) or use a distributed plan "
            "(IVFIndex.search auto-falls-back to search_preassigned)."
        )
    return qpdf


@dataclass
class IVFIndex:
    """A fitted IVF index = centroid artifact + partitioned codes table."""

    centroids: np.ndarray  # (nlist, d)
    metric: str
    path: str | None = None  # partitioned parquet location (if persisted)
    codes: DataFrame | None = None  # the (list_no, id, vec) table

    # ------------------------------------------------------------------ build
    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        metric: str = "l2",
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
    ) -> "IVFIndex":
        """Fit the coarse quantizer (reference Level1Quantizer::train_q1,
        faiss/IndexIVF.h:49): k-means with k=nlist on a seeded sample."""
        km = KMeans(
            k=nlist, niter=niter, seed=seed, spherical=(metric == "cosine")
        ).fit(vectors, vec_col=vec_col)
        return IVFIndex(centroids=km.centroids, metric=metric)

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFIndex":
        """Encode + layout: assign each vector to its nearest centroid and
        (optionally) persist partitioned by list_no (reference
        encode_vectors + invlists->add_entries, faiss/IndexIVF.h:173;
        contrib/ivf_tools.py:9 add_preassigned)."""
        return _store_codes(
            self, self._encode_df(vectors, id_col=id_col, vec_col=vec_col), path
        )

    def _encode_df(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """Frozen-artifact encode: (list_no, id, vec) rows — the shared
        core of add() and the streaming incremental writer. keep_vec:
        the assignment map carries the vector through, so the
        encode+layout stage is map-only (no join-back shuffle of the
        100 TB vector table; the only exchange is the partitioned
        write)."""
        model = KMeansModel(
            centroids=self.centroids,
            k=len(self.centroids),
            d=self.centroids.shape[1],
            spherical=(self.metric == "cosine"),
        )
        return model.assign(
            vectors, vec_col=vec_col, id_col=id_col, keep_vec=True
        ).select(F.col("cluster").alias("list_no"), "id", "vec")

    def _save_artifact(self, spark, path: str) -> None:
        """Model artifact = JSON + npy next to the codes table (SURVEY §2.I:
        no faiss binary compat needed — write_index becomes this)."""
        fsio.write_npy(spark, os.path.join(path, "_centroids.npy"), self.centroids)
        fsio.write_json(spark, os.path.join(path, "_ivf_meta.json"), {
                    "metric": self.metric,
                    "nlist": int(len(self.centroids)),
                    "d": int(self.centroids.shape[1]),
                })

    def save(self, path: str) -> "IVFIndex":
        """write_index for an already-built index (reference
        faiss/index_io.h:38): persist the in-memory codes table to the
        partitioned layout + artifacts and re-point at the stored copy."""
        return _store_codes(self, self.codes, path)

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "IVFIndex":
        """write_index into a CLUSTERED BY (list_no) layout — the
        reference's on-disk invlists (invlists/OnDiskInvertedLists.h:60,
        the precomputed grouping ``merge_to_ondisk`` materializes for the
        1T-scale pipeline, benchs/distributed_ondisk/README.md:139).

        The plain partitioned layout groups the FILES by list_no but
        Spark cannot prove the hash grouping, so every
        ``search_preassigned`` call re-exchanges the whole codes table
        into the cogroup. A bucketed table carries
        ``HashPartitioning(list_no)`` in its scan, the cogroup's
        ClusteredDistribution is already satisfied, and repeated
        big-batch searches become scan-only on the corpus side — at
        100 TB that is the difference between one corpus shuffle per
        search and zero (the probe side, which is the small side, still
        exchanges once)."""
        return _write_bucketed_codes(
            self, path, ("list_no", "id", "vec"), "ivf_codes_", nbuckets
        )

    @staticmethod
    def _bucketed_table(spark: SparkSession, path: str, bm: dict) -> DataFrame:
        """(Re)attach the bucketed codes table. The FILES are the durable
        artifact; the default in-memory catalog is session-scoped, so a
        fresh session recreates the table DDL over the same location."""
        name = bm["table"]
        key = bm.get("key", "list_no")  # NSG buckets by shard
        if not spark.catalog.tableExists(name):
            spark.sql(
                f"CREATE TABLE {name} ({bm['ddl']}) USING PARQUET "
                f"CLUSTERED BY ({key}) INTO {bm['nbuckets']} BUCKETS "
                f"LOCATION '{path}'"
            )
        return spark.table(name)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFIndex":
        meta = fsio.read_json(spark, os.path.join(path, "_ivf_meta.json"))
        return IVFIndex(
            centroids=fsio.read_npy(spark, os.path.join(path, "_centroids.npy")),
            metric=meta["metric"],
            path=path,
            codes=_attach_codes_table(spark, path),
        )

    # ----------------------------------------------------------------- search
    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """IVF k-NN (reference IndexIVF::search, faiss/IndexIVF.cpp:302).

        Returns (qid, id, dist, rank). nprobe is clamped to nlist
        (IndexIVF.cpp:315). With nprobe == nlist results are exact.

        The probe plan is computed on the DRIVER (centroids × queries are
        both small in the intended regime); if the query side exceeds
        MAX_DRIVER_QUERY_CELLS / d rows, this automatically falls back to
        the fully-distributed ``search_preassigned`` join plan — the
        driver never materializes an unbounded query frame."""
        return _flat_search(self, "IVFIndex.search", queries, k, nprobe, qid_col, qvec_col)


class IVFSearchStats:
    """Per-call IVF search statistics (reference IndexIVFStats,
    faiss/IndexIVF.h:42-55, populated by IVFlib's search_with_parameters,
    faiss/IVFlib.h:129-141). Backed by Spark accumulators that both
    shared routes fill, for every codec: the driver route adds nq when it
    collects the queries, the distributed route as it assigns probes;
    both add list_scans and ndis as they scan. The driver reads them
    after the result is materialized.

    nq: queries searched; ndis: distances computed (exact); list_scans:
    per-task (list, query-group) scans — equals lists-visited when each
    inverted list lands in one scan partition or cogroup cell (the
    partitioned-parquet layout), an upper bound when a list spans
    several."""

    def __init__(self, spark, nq: int = 0):
        sc = spark.sparkContext
        self._acc_nq = sc.accumulator(nq)
        self._acc_list_scans = sc.accumulator(0)
        self._acc_ndis = sc.accumulator(0)

    @property
    def nq(self) -> int:
        return self._acc_nq.value

    @property
    def list_scans(self) -> int:
        return self._acc_list_scans.value

    @property
    def ndis(self) -> int:
        return self._acc_ndis.value

    def as_dict(self) -> dict:
        return {"nq": self.nq, "list_scans": self.list_scans, "ndis": self.ndis}


def ivf_range_search(
    index,
    queries: DataFrame,
    radius: float,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    stats: IVFSearchStats | None = None,
) -> DataFrame:
    """IVF range search (reference IndexIVF::range_search,
    faiss/IndexIVF.cpp:715-781): probe the nprobe nearest cells per
    query, then emit every (qid, id, dist) in the scanned lists with
    dist < radius (similarity metrics: > radius). Fully map-side after
    the partition-pruned scan — candidates are never ranked, so there is
    NO shuffle at all. nprobe == nlist degenerates to exact
    range_search. A query side past the driver bound auto-falls-back to
    the fully-distributed ``range_search_preassigned`` cogroup plan (with
    an IVFSearchStats out-param, straight to the distributed route, which
    fills the same counters)."""
    return _scan_probed_lists(
        index, queries, _probe_planner(index, nprobe),
        _FlatScanner(index.metric), "ivf_range_search", qid_col, qvec_col,
        radius=float(radius), stats=stats,
        fallback=None if stats is not None else lambda: range_search_preassigned(
            index, queries, radius, nprobe=nprobe,
            qid_col=qid_col, qvec_col=qvec_col,
        ),
    )


def range_search_with_parameters(
    index,
    queries: DataFrame,
    radius: float,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> tuple[DataFrame, IVFSearchStats]:
    """Range-search twin of search_with_parameters (reference
    faiss/IVFlib.h:141 ``range_search_with_parameters`` — explicit params
    + IndexIVFStats out). Stats populate once the result materializes."""
    stats = IVFSearchStats(queries.sparkSession)
    res = ivf_range_search(
        index, queries, radius, nprobe=nprobe, qid_col=qid_col,
        qvec_col=qvec_col, stats=stats,
    )
    return res, stats


def search_with_parameters(
    index,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_codes: int | None = None,
) -> tuple[DataFrame, IVFSearchStats]:
    """IVF search under explicit parameters, returning (results, stats)
    (reference faiss/IVFlib.h:129-141 ``search_with_parameters`` /
    ``ivf_search_precomputed`` — the variant that outputs IndexIVFStats).
    Works for every IVF family (flat, SQ, PQ, IMI-PQ, AQ, PQR codes) on
    both routes: the driver route, or past the query bound the
    distributed route, each filling the same counters.

    max_codes (reference SearchParametersIVF / faiss/IndexIVF.h:69 and
    the scan loop's ``if (max_codes && ndis >= max_codes) break`` at
    IndexIVF.cpp:415): a per-query SCAN BUDGET — probe lists in
    nearest-first order and stop once the cumulative list sizes reach
    the budget (whole lists at a time, including the list that crosses
    the boundary, exactly the reference's post-check). Spark-first form:
    the reference enforces it inside the sequential scan loop; here the
    probe planner already plans probes per query, and per-list COUNTS
    are plan metadata (one cached aggregate), so the budget truncates the
    probe sets BEFORE the scan — the pruned plan never reads the
    partitions a sequential scan would have skipped, instead of reading
    and discarding. This is the SIFT1B "IMI2x12,PQ16 / max_codes=10000"
    serving knob (SURVEY §4 scan-budget row, benchs/README.md:122).

    The stats object reads Spark accumulators, so its counters are
    populated only after the returned DataFrame is materialized (count /
    collect / write) — the lazy-plan analogue of the reference's
    "stats filled during the call" contract."""
    lists = getattr(index, "ivfpq", index)  # IVFPQR keeps its lists in the base IVFPQ
    planner = _probe_planner(lists, nprobe, max_codes)
    stats = IVFSearchStats(queries.sparkSession)
    res = _scan_probed_lists(
        lists, queries, planner, _scanner_for(index, k),
        "search_with_parameters", qid_col, qvec_col, k=k, stats=stats,
    )
    return res, stats


def _list_sizes(index) -> np.ndarray:
    """(nlist,) row counts of the codes table, cached on the index —
    plan metadata for the max_codes scan budget (one metadata-cheap
    aggregate over the partitioning column)."""
    cached = getattr(index, "_list_sizes_cache", None)
    if cached is not None and cached[0] is index.codes:
        return cached[1]
    nlist = getattr(index, "nlist", None) or len(index.centroids)
    sizes = np.zeros(nlist, np.int64)
    for r in index.codes.groupBy("list_no").count().collect():
        sizes[int(r["list_no"])] = int(r["count"])
    index._list_sizes_cache = (index.codes, sizes)
    return sizes


# ---------------------------------------------------------------------------
# The IVF search lifecycle, written once (see the module docstring): the
# probe planner, one list scanner per codec, the shared list-scan loop and
# the driver route. The distributed route (_preassigned_cogrouped) sits
# with the other cogroup helpers below.
# ---------------------------------------------------------------------------


@dataclass
class _ProbePlanner:
    """Stage A of every IVF search (reference quantizer->search,
    IndexIVF.cpp:330, plus the IndexIVF.cpp:415 ``max_codes`` budget).
    Picklable: the driver route calls it on the collected queries, the
    distributed route broadcasts it into the probe map, so both arms
    probe identical cells. ``kind``:

      centroids  k-means argsort by metric over ``state = (C, metric)``
      beam       RCQ/LSQ beam search (``state`` the fitted coarse model)
      grid       IMI / MIQ2 product grid (``state`` a codes-free shell)
      router     ``state.assign_np(Q, nprobe)`` — nested sub-index
                 routers and the factory's graph-routed walk

    With ``max_codes`` each row is cut nearest-first once the cumulative
    probed-list sizes reach the budget, crossing list included (ragged
    rows)."""

    kind: str
    state: object
    nprobe: int
    d: int
    sizes: np.ndarray | None = None
    max_codes: int | None = None

    def __call__(self, Q: np.ndarray):
        s, n = self.state, self.nprobe
        if self.kind == "centroids":
            C, metric = s
            D = pairwise_distances(Q, C, metric)
            order = np.argsort(
                -D if metric in SIMILARITY_METRICS else D, axis=1, kind="stable"
            )[:, :n]
        elif self.kind == "beam":
            order = s.search_np(Q, n)[0]
        elif self.kind == "grid":
            order = s._probe(Q, n)
        else:
            order = s.assign_np(Q, n)
        if self.max_codes is None:
            return order
        cum = np.cumsum(self.sizes[order], axis=1)
        # keep list j iff the budget was not yet exhausted BEFORE it
        keep = np.concatenate(
            [np.ones((len(order), 1), bool), cum[:, :-1] < self.max_codes], axis=1
        )
        return [order[qi][keep[qi]] for qi in range(len(order))]


def _probe_planner(
    index, nprobe: int, max_codes: int | None = None, router=None
) -> _ProbePlanner:
    """The probe planner of an index's coarse quantizer (``router``
    overrides it — the factory's graph walk). Every search starts here,
    so this is also where an index without codes is refused. nprobe is
    clamped to nlist (IndexIVF.cpp:315)."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    if router is None:
        router = getattr(index, "router", None)
    sub = getattr(index, "sub_centroids", None)
    cq = getattr(index, "coarse_q", None)
    if cq is None:
        cq = getattr(index, "cq", None)
    if router is not None:
        kind, state, nlist, d = "router", router, router.nlist, router.d
    elif sub is not None:
        # codes-free grid shell; MIQ2's truncated grid rides via type()
        state = (
            type(index)(**index._probe_state())
            if isinstance(index, IMIIVFIndex)
            else IMIIVFIndex(sub_centroids=sub)
        )
        kind, nlist, d = "grid", state.nlist, 2 * sub.shape[2]
    elif cq is not None:
        kind, state, nlist, d = "beam", cq, cq.nlist, cq.codebooks.shape[2]
    else:
        C = index.centroids
        kind, state = "centroids", (C, getattr(index, "metric", "l2"))
        nlist, d = len(C), C.shape[1]
    sizes = _list_sizes(index) if max_codes is not None else None
    return _ProbePlanner(kind, state, min(nprobe, nlist), d, sizes, max_codes)


_POP8 = (
    np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1)
    .sum(1)
    .astype(np.int64)
)


class _ListScanner:
    """One codec's InvertedListScanner (reference faiss/IndexIVF.h
    InvertedListScanner; SURVEY §3.2 search_preassigned): built on the
    driver from index state, broadcast once per search, and driven by
    both routes through ``_scan_lists``.

      code_cols          payload columns read from the codes table
      block(cols)        those Arrow columns → tuple of numpy blocks
      bind(list_no, Q, qsel, acc, scratch) → push(blocks, ids)
                         set the list and the query group ``Q[qsel]``;
                         ``push`` scores a block of codes into the
                         TopKAccumulator ``acc``. ``scratch`` lives for
                         one task (driver route) or one cell (cogroup)
                         and holds list-independent per-query terms.
      block_rows(nq, d)  rows per push — bounds the scratch of a hot
                         cell (None: the whole block at once)"""

    code_cols = ("code",)
    largest = False

    def block_rows(self, nq: int, d: int) -> int | None:
        return None


class _FlatScanner(_ListScanner):
    """Raw-vector lists: the fused bind_queries/push_block GEMM scan
    (f64, the exact pairwise_distances op order the oracle hashes), plus
    the range variant. Subclasses decode codes to such a block first."""

    code_cols = ("vec",)

    def __init__(self, metric: str):
        self.metric = metric
        self.largest = metric in SIMILARITY_METRICS

    def block(self, cols):
        return (arrow_list_matrix(cols[0]),)

    def decode(self, list_no: int, blk) -> np.ndarray:
        return blk[0]

    def bind(self, list_no, Q, qsel, acc, scratch):
        acc.bind_queries(np.ascontiguousarray(Q[qsel]), self.metric)
        return lambda blk, ids: acc.push_block(self.decode(list_no, blk), ids)

    def range(self, Q, qsel, blk, radius: float):
        from faiss_spark.kernels import range_pairs

        return range_pairs(
            np.ascontiguousarray(Q[qsel]), blk[0], self.metric, radius
        )


class _DecodeScanner(_FlatScanner):
    """Coded lists scanned by decoding a bounded chunk to floats, then
    the fused GEMM (asymmetric: queries stay exact)."""

    code_cols = ("code",)

    def block_rows(self, nq, d):
        # decode inflates the stored bytes 4-8x: a hot cell never holds
        # its full float expansion
        return max(1, (1 << 22) // max(1, d))


class _SQScanner(_DecodeScanner):
    """SQ codes (the reference's SQ InvertedListScanner)."""

    def __init__(self, index):
        super().__init__(index.metric)
        self.sq = index.sq

    def block(self, cols):
        return (arrow_binary_matrix(cols[0]),)

    def decode(self, list_no, blk):
        return self.sq.decode_np(blk[0])


class _AQScanner(_DecodeScanner):
    """AQ codes: gather-sum the M codebook rows onto the list centroid —
    the virtual centroid's reconstruction under an additive coarse
    (AdditiveQuantizer decode, faiss/impl/AdditiveQuantizer.h:25). With a
    '_N*' search_type (reference AdditiveQuantizer search_type) an L2
    index ranks by ‖q‖² − 2⟨q,x̂⟩ + N(‖x̂‖²) instead ("none" is N ≡ 0);
    IP never uses the norm term — its LUT similarity ⟨q,x̂⟩ is exact on
    decoded vectors."""

    def __init__(self, index):
        super().__init__(index.metric)
        self.centroids, self.coarse_q = index.centroids, index.coarse_q
        self.books = index.rq.codebooks
        self.est = index.search_type is not None and index.metric == "l2"
        self.norm_q = index.norm_q if self.est else None

    def block(self, cols):
        return (_pq_code_view(arrow_binary_matrix(cols[0]), self.books.shape[0]),)

    def decode(self, list_no, blk):
        cq = self.coarse_q
        base = (
            cq.reconstruct_np(np.asarray([list_no]))[0]
            if cq is not None
            else self.centroids[list_no]
        )
        cc = blk[0]
        X = np.broadcast_to(base, (len(cc), len(base))).astype(np.float64)
        for m in range(self.books.shape[0]):
            X = X + self.books[m][cc[:, m]]
        return X

    def bind(self, list_no, Q, qsel, acc, scratch):
        if not self.est:
            return super().bind(list_no, Q, qsel, acc, scratch)
        Qg = np.ascontiguousarray(Q[qsel], np.float64)
        qn = (Qg * Qg).sum(1)[:, None]

        def push(blk, ids):
            X = self.decode(list_no, blk)
            n_est = (
                self.norm_q.quantize_np((X * X).sum(1))
                if self.norm_q is not None
                else np.zeros(len(X))
            )
            acc.push(qn - 2.0 * (Qg @ X.T) + n_est[None, :], ids)

        return push


class _PQScanner(_ListScanner):
    """Residual ADC over PQ codes, for IVFPQ (k-means centroids) and
    IMIPQ (a cell's centroid is the concat of its two half-centroids,
    built per list — the 2^(2b)×d table is never materialized). Each
    (query, list) LUT follows the reference's precomputed-table
    decomposition (faiss/IndexIVFPQ.h:49-141):

        ‖(q − c_l)_m − d_mk‖² = ‖q − c_l‖²          [coarse, per pair]
            + (‖d_mk‖² + 2⟨c_lm, d_mk⟩)              [per list, in bind]
            − 2⟨q_m, d_mk⟩                           [per query, scratch]

    so a LUT is M·ksub adds, not an M·ksub·dsub GEMM, and the D block is
    accumulated per sub-quantizer (no (nq, n, M) gather temp).
    ``polysemous_ht`` adds the in-list Hamming pre-filter
    (faiss/IndexIVFPQ.h:44, IndexIVFPQ.cpp QueryTables): the query is
    re-encoded against each probed list's centroid and candidates with
    Hamming ≥ ht go to +inf (strict keep hd < ht as the reference; ht >
    M·8 keeps everything)."""

    def __init__(self, index, polysemous_ht: int | None = None):
        self.pq = index.pq
        self.sub = getattr(index, "sub_centroids", None)
        self.centroids = None if self.sub is not None else index.centroids
        self.ht = polysemous_ht

    def block(self, cols):
        return (_pq_code_view(arrow_binary_matrix(cols[0]), self.pq.M),)

    def block_rows(self, nq, d):
        # gather-sum in bounded chunks: a hot cell never materializes
        # its full (nq, n_codes) distance block
        return max(16, (1 << 22) // max(1, nq))

    def bind(self, list_no, Q, qsel, acc, scratch):
        books = self.pq.codebooks
        M, ksub, dsub = books.shape
        if "t3" not in scratch:
            # np.empty pages are only materialized for the rows written
            scratch["t3"] = np.empty((len(Q), M, ksub), np.float64)
            scratch["have"] = np.zeros(len(Q), bool)
        t3, have = scratch["t3"], scratch["have"]
        need = qsel[~have[qsel]]
        if len(need):
            Qs = Q[need].reshape(len(need), M, dsub)
            t3[need] = -2.0 * np.einsum("qmd,mkd->qmk", Qs, books)
            have[need] = True
        if self.sub is None:
            c = self.centroids[list_no]
        else:
            ks = self.sub.shape[1]
            c = np.concatenate(
                [self.sub[0][list_no // ks], self.sub[1][list_no % ks]]
            )
        pct = (books * books).sum(2) + 2.0 * np.einsum(
            "md,mkd->mk", c.reshape(M, dsub), books
        )
        luts = pct[None, :, :] + t3[qsel]
        R = Q[qsel] - c[None, :]
        coarse = (R * R).sum(1)
        qc = self.pq.encode_np(R) if self.ht is not None else None

        def push(blk, ids):
            codes = blk[0]
            D = np.broadcast_to(coarse[:, None], (len(R), len(codes))).copy()
            for m in range(M):
                D += luts[:, m, codes[:, m].astype(np.int64)]
            if qc is not None:
                ham = np.zeros(D.shape, np.int64)
                for m in range(M):
                    ham += _POP8[np.bitwise_xor(qc[:, m][:, None], codes[None, :, m])]
                D[ham >= self.ht] = np.inf
            acc.push(D, ids)

        return push


class _PQRScanner(_ListScanner):
    """IVFPQR codes-only rerank (reference IndexIVFPQR.cpp:130-184): per
    block, the ADC estimate over the pq1 codes, a per-query shortlist of
    k·k_factor, pq1 + refine_pq decode of the shortlist union only, and
    the exact ‖(q − c) − (ŷ₁ + ŷ₂)‖² for the shortlist (+inf elsewhere).
    A per-block shortlist is a superset of the reference's global one,
    so refined quality is ≥ the reference's."""

    code_cols = ("code", "rcode")

    def __init__(self, index, k: int):
        self.centroids = index.ivfpq.centroids
        self.pq1, self.pq2 = index.ivfpq.pq, index.refine_pq
        self.shortlist = k * index.k_factor

    def block(self, cols):
        return (
            _pq_code_view(arrow_binary_matrix(cols[0]), self.pq1.M),
            _pq_code_view(arrow_binary_matrix(cols[1]), self.pq2.M),
        )

    def block_rows(self, nq, d):
        return max(16, (1 << 22) // max(1, nq))

    def bind(self, list_no, Q, qsel, acc, scratch):
        books1 = self.pq1.codebooks
        M, _, dsub = books1.shape
        R = Q[qsel] - self.centroids[list_no][None, :]
        Rs = R.reshape(len(R), M, dsub)
        luts = (
            (Rs * Rs).sum(2)[:, :, None]
            + (books1 * books1).sum(2)[None, :, :]
            - 2.0 * np.einsum("qmd,mkd->qmk", Rs, books1)
        )

        def push(blk, ids):
            cc1, cc2 = blk
            D = np.zeros((len(R), len(cc1)), np.float64)
            for m in range(M):
                D += luts[:, m, cc1[:, m].astype(np.int64)]
            ns = min(len(cc1), self.shortlist)
            if ns < len(cc1):
                short = np.argpartition(D, ns - 1, axis=1)[:, :ns]
            else:
                short = np.broadcast_to(np.arange(len(cc1)), (len(R), len(cc1)))
            uni = np.unique(short.ravel())
            Y = self.pq1.decode_np(cc1[uni]) + self.pq2.decode_np(cc2[uni])
            pos = np.full(len(cc1), -1, np.int64)
            pos[uni] = np.arange(len(uni))
            DR = np.full_like(D, np.inf)
            for qi in range(len(R)):
                sel = short[qi]
                diff = R[qi][None, :] - Y[pos[sel]]
                DR[qi, sel] = (diff * diff).sum(1)
            acc.push(DR, ids)

        return push


def _scanner_for(index, k: int) -> _ListScanner:
    """The list scanner of an index's codec (search_with_parameters)."""
    if getattr(index, "refine_pq", None) is not None:
        return _PQRScanner(index, k)
    index = getattr(index, "ivfpq", index)
    if isinstance(index, (IVFPQIndex, IMIPQIndex)):
        return _PQScanner(index)
    if isinstance(index, IVFSQIndex):
        return _SQScanner(index)
    if isinstance(index, IVFAQIndex):
        return _AQScanner(index)
    return _FlatScanner(index.metric)


def _scan_lists(scanner, groups, Q, l2q, k, radius, accs):
    """The one list-scan loop both routes run over ``(list_no, blocks,
    ids)`` groups: bind the scanner the first time a list appears (query
    group ``l2q[list_no]``), push its code blocks in bounded rows, and
    yield ``(query index, id, dist)`` arrays — every pair within
    ``radius`` as it is found, or each list's top-k survivors at the end
    (a vector lives in one list, so survivors never repeat). ``accs`` are
    the IVFSearchStats (list_scans, ndis) accumulators, or None."""
    acc_scans, acc_ndis = accs or (None, None)
    scratch: dict = {}
    bound: dict = {}
    for list_no, blk, ids in groups:
        qsel = l2q.get(list_no)
        if qsel is None or len(qsel) == 0:
            continue
        if list_no not in bound:
            if acc_scans is not None:
                acc_scans.add(len(qsel))
            if radius is None:
                acc = TopKAccumulator(len(qsel), k, scanner.largest)
                bound[list_no] = (acc, scanner.bind(list_no, Q, qsel, acc, scratch))
            else:
                bound[list_no] = None
        if acc_ndis is not None:
            acc_ndis.add(int(len(qsel) * len(ids)))
        if radius is not None:
            rq, rc, vals = scanner.range(Q, qsel, blk, radius)
            if len(rq):
                yield qsel[rq], ids[rc], vals
            continue
        push = bound[list_no][1]
        rows = scanner.block_rows(len(qsel), Q.shape[1]) or len(ids)
        for s in range(0, len(ids), rows):
            push(tuple(b[s : s + rows] for b in blk), ids[s : s + rows])
    if radius is not None:
        return
    for list_no, (acc, _) in bound.items():
        qidx, nid, nd = acc.emit()
        fin = np.isfinite(nd)  # polysemous / PQR-shortlist prunes are +inf
        yield l2q[list_no][qidx[fin]], nid[fin], nd[fin]


_CAND_SCHEMA = "qid bigint, id bigint, dist double"


def _scan_probed_lists(
    lists,
    queries: DataFrame,
    planner: _ProbePlanner,
    scanner: _ListScanner,
    op: str,
    qid_col: str,
    qvec_col: str,
    k: int | None = None,
    radius: float | None = None,
    fallback=None,
    stats: IVFSearchStats | None = None,
) -> DataFrame:
    """The driver route, shared by every IVF family: one bounded query
    collect (past MAX_DRIVER_QUERY_CELLS it returns ``fallback()`` — the
    caller's public distributed twin — or, without one, the distributed
    route itself, carrying ``stats``), the dimension check, probes
    planned on the driver, the list → queries map (the ivf_tools
    big-batch regrouping, contrib/ivf_tools.py:26) broadcast with the
    scanner, ONE partition-pruned mapInArrow scan of only the probed
    lists, then the window top-k. Range mode (``radius``) ends map-side:
    inverted lists partition the ids, so no pair repeats."""
    collected = collect_queries_bounded(
        queries, qid_col, qvec_col, op, d=planner.d,
        fallback=fallback or (lambda: _preassigned_cogrouped(
            lists, queries, planner, scanner, qid_col, qvec_col,
            k=k, radius=radius, stats=stats,
        )),
    )
    if isinstance(collected, DataFrame):
        return collected
    qids, Q = collected
    if len(Q) and Q.shape[1] != planner.d:
        raise ValueError(
            f"{op}: query vectors have d={Q.shape[1]} components but the "
            f"index has d={planner.d}"
        )
    # invert: list_no -> local query indexes; probe rows may be ragged
    # (the max_codes scan budget)
    l2q: dict[int, list[int]] = {}
    for qi, row in enumerate(planner(Q) if len(Q) else []):
        for c in row:
            l2q.setdefault(int(c), []).append(qi)
    accs = None
    if stats is not None:
        stats._acc_nq.add(len(qids))
        accs = (stats._acc_list_scans, stats._acc_ndis)
    bc = lists.codes.sparkSession.sparkContext.broadcast(
        (qids, Q, {c: np.asarray(v, np.int64) for c, v in l2q.items()}, scanner)
    )
    def scan(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_list_groups

        qids_, Q_, l2q_, sc = bc.value
        groups = arrow_list_groups(batches, lambda b: sc.block(b.columns[2:]))
        for qi, ids, dist in _scan_lists(sc, groups, Q_, l2q_, k, radius, accs):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_[qi], pa.int64()),
                    pa.array(ids, pa.int64()),
                    pa.array(dist, pa.float64()),
                ],
                names=["qid", "id", "dist"],
            )

    # stage B — partition-pruned scan: Catalyst turns the IN-filter on
    # the partitioning column into reading only nprobe'd directories
    cands = (
        lists.codes.filter(F.col("list_no").isin(sorted(l2q)))
        .select("list_no", "id", *scanner.code_cols)
        .mapInArrow(scan, schema=_CAND_SCHEMA)
    )
    return cands if radius is not None else _window_topk(cands, k, scanner.largest)


def _flat_search(index, op, queries, k, nprobe, qid_col, qvec_col) -> DataFrame:
    """Driver-route k-NN over raw-vector lists, shared by every flat IVF
    family (k-means, RCQ beam, nested router, IMI/MIQ2 grid). Past the
    driver bound it falls back to the public ``search_preassigned`` twin
    (looked up at call time), whose planner runs the SAME coarse
    assignment executor-side."""
    return _scan_probed_lists(
        index, queries, _probe_planner(index, nprobe),
        _FlatScanner(index.metric), op, qid_col, qvec_col, k=k,
        fallback=lambda: search_preassigned(
            index, queries, k, nprobe=nprobe,
            qid_col=qid_col, qvec_col=qvec_col,
        ),
    )


@dataclass
class IVFRCQIndex:
    """IVF whose coarse quantizer is an additive quantizer (reference
    ResidualCoarseQuantizer / LocalSearchCoarseQuantizer,
    faiss/IndexAdditiveQuantizer.h:161,193 — the `IVF65536(RQ…)` factory
    family): nlist = ksub^M virtual cells, assignment and probe selection
    by beam search over the M codebooks instead of an argmin over nlist
    materialized centroids.

    Why it matters at scale: a 100 TB corpus wants nlist ~ 2^16..2^20;
    training one k-means with k = nlist is the bottleneck the reference
    invented RCQ for. Here training is M small k-means, the centroid
    artifact is M·ksub·d floats (KBs, always broadcastable), and the add
    path is the same map-side Arrow batch as every other codec. The
    codes table layout, partition pruning, scan, and merge are IDENTICAL
    to IVFIndex — only stage A (probe selection) differs.

    L2 only, like the reference (AQ beam search minimizes squared L2).
    """

    cq: "ResidualCoarseQuantizerModel"
    metric: str = "l2"
    path: str | None = None
    codes: DataFrame | None = None

    @staticmethod
    def train(
        vectors: DataFrame,
        M: int = 2,
        nbits: int = 4,
        beam_factor: float = 4.0,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 15,
        lsq: bool = False,
    ) -> "IVFRCQIndex":
        from faiss_spark.operators.codecs import (
            LSCoarseQuantizer,
            ResidualCoarseQuantizer,
        )

        est = (LSCoarseQuantizer if lsq else ResidualCoarseQuantizer)(
            M=M, nbits=nbits, beam_factor=beam_factor, niter=niter, seed=seed
        )
        return IVFRCQIndex(cq=est.fit(vectors, vec_col=vec_col))

    @property
    def nlist(self) -> int:
        return self.cq.nlist

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFRCQIndex":
        """Beam-search assignment (distributed, no shuffle) + the same
        list_no-partitioned layout as IVFIndex.add. Empty virtual cells
        simply have no partition directory — exactly how faiss's RCQ IVF
        leaves most of its 2^16 invlists empty."""
        assigned = self.cq.assign(vectors, vec_col=vec_col, id_col=id_col).select(
            "id", F.col("cluster").alias("list_no")
        )
        codes = (
            vectors.select(
                F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
            )
            .join(assigned, "id")
            .select("list_no", "id", "vec")
        )
        return _store_codes(self, codes, path)

    def _save_artifact(self, spark, path: str) -> None:
        fsio.write_npy(spark, os.path.join(path, "_rcq_codebooks.npy"), self.cq.codebooks)
        fsio.write_json(spark, os.path.join(path, "_rcq_meta.json"), {
                    "metric": self.metric,
                    "beam_factor": self.cq.beam_factor,
                    "nlist": self.nlist,
                })

    def save(self, path: str) -> "IVFRCQIndex":
        """write_index for an already-built RCQ-coarse index."""
        return _store_codes(self, self.codes, path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFRCQIndex":
        from faiss_spark.operators.codecs import ResidualCoarseQuantizerModel

        meta = fsio.read_json(spark, os.path.join(path, "_rcq_meta.json"))
        return IVFRCQIndex(
            cq=ResidualCoarseQuantizerModel(
                codebooks=fsio.read_npy(spark, os.path.join(path, "_rcq_codebooks.npy")),
                beam_factor=meta["beam_factor"],
            ),
            metric=meta["metric"],
            path=path,
            codes=spark.read.parquet(path),
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Stage A = ResidualCoarseQuantizer::search (beam of
        beam_factor·nprobe, keep the nprobe best cells per query);
        stages B+C shared with IVFIndex. A query side past the driver
        bound auto-falls-back to the distributed cogroup twin with the
        SAME beam assignment running executor-side."""
        return _flat_search(self, "IVFRCQIndex.search", queries, k, nprobe, qid_col, qvec_col)


@dataclass
class NestedCoarseRouter:
    """Coarse assignment through an arbitrary parenthesized SUB-INDEX
    over the centroids (reference index_factory.cpp:241-289: the factory
    builds `IVF<n>(<sub-description>)` with the sub-index as quantizer —
    e.g. `IVF1000(PQ16)` assigns via ADC over PQ-coded centroids, nested
    `IVF1000(IVF32,Flat)` routes through a two-level tree).

    The centroid table is driver-sized (nlist × d floats), so the
    sub-index here is its trained artifacts plus a vectorized assign
    over a broadcast copy — the Spark plan (partition-pruned list scan)
    is untouched; only stage A (probe selection) and the add-side
    assignment change, exactly the split the graph-routed `IVF<n>_NSG`
    family already uses.

    kinds:
      flat — exact argmin (``IVF<n>(Flat)`` ≡ plain ``IVF<n>``)
      pq   — ADC over PQ codes of the centroids (``IVF<n>(PQ<M>[x<b>])``)
      ivf  — two-level routing (``IVF<n>(IVF<m>,Flat)``): an inner
             k-means over the centroids; probes come from ranking the
             nearest inner cells' member centroids, nearest-cell-first,
             until nprobe are ranked. At nprobe = nlist every member is
             ranked exactly, so full probe == exact (the ★oracle hook).
    """

    kind: str  # "flat" | "pq" | "ivf"
    nlist: int
    d: int
    # raw (nlist, d) f64 table — None for kind="pq": ADC assignment reads
    # only the books + codes, and the reference's IVF<n>(PQ<M>) exists
    # precisely so the quantizer ships compressed — broadcasting the raw
    # table alongside would be a silent multi-GB executor copy at the
    # billion-scale nlist the grammar targets
    centroids: np.ndarray | None = None
    pq_books: np.ndarray | None = None  # (M, ksub, dsub)
    cent_codes: np.ndarray | None = None  # (nlist, M) int64
    inner_centroids: np.ndarray | None = None  # (k2, d)
    cent_cell: np.ndarray | None = None  # (nlist,) inner cell per centroid
    # kind == "lsh" (`IVF<n>(LSH[r][t])`, reference index_factory.cpp
    # sub-index parse → IndexLSH quantizer): cells ranked by Hamming
    # between sign codes of rotated projections
    lsh_proj: np.ndarray | None = None  # (d, nbits) or None (identity)
    lsh_thr: np.ndarray | None = None  # (nbits,) thresholds
    cent_bits: np.ndarray | None = None  # (nlist, nbits) bool

    @staticmethod
    def build(
        sub: tuple, centroids: np.ndarray, seed: int = 1234
    ) -> "NestedCoarseRouter":
        from faiss_spark.operators.codecs import _kmeans_np

        C = np.ascontiguousarray(centroids, np.float64)
        nlist, d = C.shape
        kind = sub[0]
        if kind == "flat":
            return NestedCoarseRouter(kind="flat", nlist=nlist, d=d, centroids=C)
        if kind == "pq":
            _, M, nbits = sub
            if d % M:
                raise ValueError(f"d={d} not divisible by sub-index PQ M={M}")
            dsub = d // M
            ksub = min(1 << nbits, len(C))
            books = np.empty((M, ksub, dsub), np.float64)
            codes = np.empty((len(C), M), np.int64)
            for m in range(M):
                books[m], codes[:, m] = _kmeans_np(
                    C[:, m * dsub : (m + 1) * dsub], ksub, 15, seed + m
                )
            # the raw centroid table is deliberately NOT retained (see
            # field comment): assignment is pure ADC over books + codes
            return NestedCoarseRouter(
                kind="pq", nlist=nlist, d=d, pq_books=books, cent_codes=codes
            )
        if kind == "ivf":
            _, k2 = sub
            inner, labels = _kmeans_np(C, min(int(k2), len(C)), 15, seed)
            return NestedCoarseRouter(
                kind="ivf", nlist=nlist, d=d, centroids=C,
                inner_centroids=inner, cent_cell=labels,
            )
        if kind == "lsh":
            # IndexLSH quantizer over the centroids (reference
            # index_factory.cpp:528-532 semantics at the sub-index
            # position): nbits = d sign bits; 'r' = seeded random
            # rotation, 't' = thresholds trained on the data the index
            # ranks (the centroids) — reference train_thresholds uses
            # the per-component mean
            _, rotate, train_thr = sub
            rng = np.random.default_rng(seed)
            proj = None
            Cp = C
            if rotate:
                A = rng.standard_normal((d, d))
                qmat, _ = np.linalg.qr(A)
                proj = qmat
                Cp = C @ proj
            thr = Cp.mean(0) if train_thr else np.zeros(d)
            # like the PQ kind, the raw table is not retained: ranking
            # is pure Hamming over the sign codes
            return NestedCoarseRouter(
                kind="lsh", nlist=nlist, d=d,
                lsh_proj=proj, lsh_thr=thr, cent_bits=(Cp > thr),
            )
        raise ValueError(f"unknown nested coarse kind {kind!r}")

    def assign_np(self, Q: np.ndarray, nprobe: int) -> np.ndarray:
        """(nq, nprobe) probe cells, the sub-index's own ranking."""
        Q = np.ascontiguousarray(Q, np.float64)
        nprobe = min(nprobe, self.nlist)
        if self.kind == "flat":
            D = pairwise_distances(Q, self.centroids, "l2")
            return np.argsort(D, axis=1, kind="stable")[:, :nprobe]
        if self.kind == "pq":
            books, codes = self.pq_books, self.cent_codes
            M, ksub, dsub = books.shape
            Qs = Q.reshape(len(Q), M, dsub)
            # per-query ADC LUTs over the centroid codes — the reference's
            # quantizer->search with an IndexPQ quantizer
            luts = (
                (Qs * Qs).sum(2)[:, :, None]
                + (books * books).sum(2)[None, :, :]
                - 2.0 * np.einsum("qmd,mkd->qmk", Qs, books)
            )
            D = np.zeros((len(Q), len(codes)), np.float64)
            for m in range(M):
                D += luts[:, m, codes[:, m]]
            return np.argsort(D, axis=1, kind="stable")[:, :nprobe]
        if self.kind == "lsh":
            Qp = Q @ self.lsh_proj if self.lsh_proj is not None else Q
            qb = Qp > self.lsh_thr
            # Hamming between query sign codes and centroid sign codes;
            # stable sort tie-breaks equal-radius cells by cell id
            D = (qb[:, None, :] != self.cent_bits[None, :, :]).sum(2)
            return np.argsort(D, axis=1, kind="stable")[:, :nprobe]
        # kind == "ivf": rank member centroids of the nearest inner
        # cells, nearest-cell-first, until nprobe are ranked exactly
        Din = pairwise_distances(Q, self.inner_centroids, "l2")
        inner_order = np.argsort(Din, axis=1, kind="stable")
        members = [
            np.flatnonzero(self.cent_cell == c)
            for c in range(len(self.inner_centroids))
        ]
        out = np.empty((len(Q), nprobe), np.int64)
        for qi in range(len(Q)):
            cand, tot = [], 0
            for c in inner_order[qi]:
                if len(members[c]) == 0:
                    continue
                cand.append(members[c])
                tot += len(members[c])
                if tot >= nprobe:
                    break
            cc = np.concatenate(cand)
            d = ((Q[qi][None, :] - self.centroids[cc]) ** 2).sum(1)
            out[qi] = cc[np.argsort(d, kind="stable")[:nprobe]]
        return out

    _ARRAY_FIELDS = (
        "centroids", "pq_books", "cent_codes", "inner_centroids",
        "cent_cell", "lsh_proj", "lsh_thr", "cent_bits",
    )

    def state(self) -> tuple[dict, dict]:
        """(arrays, meta) for write_index — npy/json artifacts only."""
        arrays = {
            f: getattr(self, f)
            for f in self._ARRAY_FIELDS
            if getattr(self, f) is not None
        }
        meta = {
            "router": "enum",
            "kind": self.kind,
            "nlist": self.nlist,
            "d": self.d,
            "arrays": sorted(arrays),
        }
        return arrays, meta

    @staticmethod
    def from_state(meta: dict, arrays: dict) -> "NestedCoarseRouter":
        return NestedCoarseRouter(
            kind=meta["kind"], nlist=meta["nlist"], d=meta["d"], **arrays
        )


@dataclass
class CompositeCoarseRouter:
    """Recursive nested coarse quantizer (reference index_factory.cpp
    parse_coarse_quantizer at :228,841 accepts ANY factory description;
    its own tests build ``IVF1000(IVF20,SQ4,Refine(SQ8)),Flat`` —
    tests/test_factory.py:154). The sub-grammar here recurses one level:
    ``[IVF<m>,]<codec>[,Refine(<codec>)|,RFlat]`` with codec ∈ {Flat,
    SQ4/6/8/fp16, PQ<M>[x<b>], LSH[r][t]} — deeper nesting refuses
    loudly at parse (depth > 2 would mis-build silently otherwise).

    Assignment mirrors the reference quantizer-with-refine search: an
    optional inner k-means gathers member centroids nearest-inner-cell-
    first until k_base = nprobe·k_factor candidates exist, the codec
    ranks them on DECODED reconstructions, and the refine codec (or the
    raw table for RFlat) re-ranks the survivors down to nprobe. At
    nprobe = nlist every stage saturates, so the probe set is total and
    full-probe search stays exact (the ★rcq_ivf_search property).

    Scale shape: the broadcast artifact is the CODED centroid table
    (SQ/PQ/LSH codes) plus tiny codebooks — the raw (nlist, d) table
    ships only when a stage genuinely needs it (Flat codec / RFlat)."""

    nlist: int
    d: int
    k_factor: int = 4
    # inner IVF level (None = scan all centroids)
    inner_centroids: np.ndarray | None = None
    cent_cell: np.ndarray | None = None
    # codec stage over the centroid table
    codec_kind: str = "flat"  # flat | sq | pq | lsh
    centroids: np.ndarray | None = None  # raw table (flat codec / RFlat only)
    sq_model: object | None = None
    sq_codes: np.ndarray | None = None  # (nlist, code_bytes) uint8
    pq_books: np.ndarray | None = None
    pq_codes: np.ndarray | None = None
    lsh_proj: np.ndarray | None = None
    lsh_thr: np.ndarray | None = None
    cent_bits: np.ndarray | None = None
    # refine stage: None | "flat" | "sq" | "pq"
    refine_kind: str | None = None
    ref_sq_model: object | None = None
    ref_sq_codes: np.ndarray | None = None
    ref_pq_books: np.ndarray | None = None
    ref_pq_codes: np.ndarray | None = None

    @staticmethod
    def _fit_codec(kind: tuple, C: np.ndarray, seed: int) -> dict:
        """Train one codec stage on the centroid table → field dict."""
        from faiss_spark.operators.codecs import (
            ScalarQuantizerModel,
            _kmeans_np,
        )

        if kind[0] == "flat":
            return {"centroids": C}
        if kind[0] == "sq":
            vmin = C.min(0)
            vdiff = C.max(0) - vmin
            m = ScalarQuantizerModel(vmin=vmin, vdiff=vdiff, bits=kind[1])
            return {"model": m, "codes": m.encode_np(C)}
        if kind[0] == "pq":
            _, M, nbits = kind
            if C.shape[1] % M:
                raise ValueError(
                    f"d={C.shape[1]} not divisible by sub-index PQ M={M}"
                )
            dsub = C.shape[1] // M
            ksub = min(1 << nbits, len(C))
            books = np.empty((M, ksub, dsub), np.float64)
            codes = np.empty((len(C), M), np.int64)
            for m_ in range(M):
                books[m_], codes[:, m_] = _kmeans_np(
                    C[:, m_ * dsub : (m_ + 1) * dsub], ksub, 15, seed + m_
                )
            return {"books": books, "codes": codes}
        raise ValueError(f"unknown composite codec {kind!r}")

    @staticmethod
    def build(
        spec: dict, centroids: np.ndarray, seed: int = 1234
    ) -> "CompositeCoarseRouter":
        from faiss_spark.operators.codecs import _kmeans_np

        C = np.ascontiguousarray(centroids, np.float64)
        nlist, d = C.shape
        r = CompositeCoarseRouter(nlist=nlist, d=d)
        if spec.get("inner_k"):
            inner, labels = _kmeans_np(
                C, min(int(spec["inner_k"]), nlist), 15, seed
            )
            r.inner_centroids, r.cent_cell = inner, labels
        codec = spec["codec"]
        r.codec_kind = codec[0]
        if codec[0] == "lsh":
            _, rotate, train_thr = codec
            rng = np.random.default_rng(seed)
            Cp = C
            if rotate:
                qmat, _ = np.linalg.qr(rng.standard_normal((d, d)))
                r.lsh_proj = qmat
                Cp = C @ qmat
            r.lsh_thr = Cp.mean(0) if train_thr else np.zeros(d)
            r.cent_bits = Cp > r.lsh_thr
        else:
            f = CompositeCoarseRouter._fit_codec(codec, C, seed)
            if codec[0] == "flat":
                r.centroids = C
            elif codec[0] == "sq":
                r.sq_model, r.sq_codes = f["model"], f["codes"]
            else:
                r.pq_books, r.pq_codes = f["books"], f["codes"]
        ref = spec.get("refine")
        if ref is not None:
            r.refine_kind = ref[0]
            if ref[0] == "flat":
                r.centroids = C  # RFlat re-ranks against the raw table
            else:
                f = CompositeCoarseRouter._fit_codec(ref, C, seed + 101)
                if ref[0] == "sq":
                    r.ref_sq_model, r.ref_sq_codes = f["model"], f["codes"]
                else:
                    r.ref_pq_books, r.ref_pq_codes = f["books"], f["codes"]
        return r

    @staticmethod
    def _adc_dists(q: np.ndarray, cand: np.ndarray, books: np.ndarray,
                   codes: np.ndarray) -> np.ndarray:
        """One query's ADC distances to the coded candidates — the
        single shared copy of the per-subspace LUT math (both stages and
        a future op-order fix stay in sync)."""
        M, ksub, dsub = books.shape
        qs = q.reshape(M, dsub)
        lut = (
            (qs * qs).sum(1)[:, None]
            + (books * books).sum(2)
            - 2.0 * np.einsum("md,mkd->mk", qs, books)
        )
        sub = codes[cand]
        return sum(lut[m, sub[:, m]] for m in range(M))

    # decode the query-independent coded tables at most once per
    # assign_np CALL (they were re-decoded per query row); cap the
    # hoist so a 2^20-cell router never materializes a raw-table-sized
    # decode inside an executor task — above the cap the per-candidate
    # subset decode is the scale-safe path
    _DECODE_HOIST_ELEMS = 1 << 22  # ≈ 32 MB f64

    def _hoisted(self) -> dict:
        out = {}
        if self.nlist * self.d <= self._DECODE_HOIST_ELEMS:
            if self.codec_kind == "sq":
                out["sq"] = self.sq_model.decode_np(self.sq_codes)
            if self.refine_kind == "sq":
                out["ref_sq"] = self.ref_sq_model.decode_np(self.ref_sq_codes)
        return out

    def _codec_dists(self, q: np.ndarray, cand: np.ndarray,
                     hoist: dict | None = None) -> np.ndarray:
        """Squared L2 (or Hamming for LSH) of one query against the
        DECODED candidate centroids — the base stage's ranking."""
        if self.codec_kind == "flat":
            return ((self.centroids[cand] - q) ** 2).sum(1)
        if self.codec_kind == "sq":
            dec = (hoist or {}).get("sq")
            X = (
                dec[cand]
                if dec is not None
                else self.sq_model.decode_np(self.sq_codes[cand])
            )
            return ((X - q) ** 2).sum(1)
        if self.codec_kind == "pq":
            return self._adc_dists(q, cand, self.pq_books, self.pq_codes)
        # lsh
        qp = q @ self.lsh_proj if self.lsh_proj is not None else q
        qb = qp > self.lsh_thr
        return (qb[None, :] != self.cent_bits[cand]).sum(1).astype(np.float64)

    def _refine_dists(self, q: np.ndarray, cand: np.ndarray,
                      hoist: dict | None = None) -> np.ndarray:
        if self.refine_kind == "flat":
            return ((self.centroids[cand] - q) ** 2).sum(1)
        if self.refine_kind == "sq":
            dec = (hoist or {}).get("ref_sq")
            X = (
                dec[cand]
                if dec is not None
                else self.ref_sq_model.decode_np(self.ref_sq_codes[cand])
            )
            return ((X - q) ** 2).sum(1)
        return self._adc_dists(q, cand, self.ref_pq_books, self.ref_pq_codes)

    def assign_np(self, Q: np.ndarray, nprobe: int) -> np.ndarray:
        """(nq, nprobe) probe cells under the composite ranking."""
        Q = np.ascontiguousarray(Q, np.float64)
        nprobe = min(nprobe, self.nlist)
        hoist = self._hoisted()
        k_base = (
            min(self.nlist, nprobe * self.k_factor)
            if self.refine_kind is not None
            else nprobe
        )
        if self.inner_centroids is not None:
            inner_order = np.argsort(
                pairwise_distances(Q, self.inner_centroids, "l2"),
                axis=1, kind="stable",
            )
            members = [
                np.flatnonzero(self.cent_cell == c)
                for c in range(len(self.inner_centroids))
            ]
        out = np.empty((len(Q), nprobe), np.int64)
        all_cells = np.arange(self.nlist)
        for qi in range(len(Q)):
            if self.inner_centroids is None:
                cand = all_cells
            else:
                pools, tot = [], 0
                for c in inner_order[qi]:
                    if len(members[c]) == 0:
                        continue
                    pools.append(members[c])
                    tot += len(members[c])
                    if tot >= k_base:
                        break
                cand = np.concatenate(pools)
            d_base = self._codec_dists(Q[qi], cand, hoist)
            order = np.argsort(d_base, kind="stable")
            if self.refine_kind is not None:
                top = cand[order[: min(k_base, len(cand))]]
                d_ref = self._refine_dists(Q[qi], top, hoist)
                out[qi] = top[np.argsort(d_ref, kind="stable")[:nprobe]]
            else:
                out[qi] = cand[order[:nprobe]]
        return out

    _ARRAY_FIELDS = (
        "inner_centroids", "cent_cell", "centroids", "sq_codes",
        "pq_books", "pq_codes", "lsh_proj", "lsh_thr", "cent_bits",
        "ref_sq_codes", "ref_pq_books", "ref_pq_codes",
    )

    def state(self) -> tuple[dict, dict]:
        """(arrays, meta) for write_index — npy/json artifacts only,
        like every other family (no pickles)."""
        arrays = {
            f: getattr(self, f)
            for f in self._ARRAY_FIELDS
            if getattr(self, f) is not None
        }
        meta = {
            "router": "composite",
            "nlist": self.nlist,
            "d": self.d,
            "k_factor": self.k_factor,
            "codec_kind": self.codec_kind,
            "refine_kind": self.refine_kind,
        }
        for name, m in (("sq", self.sq_model), ("ref_sq", self.ref_sq_model)):
            if m is not None:
                arrays[f"{name}_vmin"] = np.asarray(m.vmin)
                arrays[f"{name}_vdiff"] = np.asarray(m.vdiff)
                meta[f"{name}_bits"] = int(m.bits)
        meta["arrays"] = sorted(arrays)
        return arrays, meta

    @staticmethod
    def from_state(meta: dict, arrays: dict) -> "CompositeCoarseRouter":
        from faiss_spark.operators.codecs import ScalarQuantizerModel

        kw = {
            f: arrays[f]
            for f in CompositeCoarseRouter._ARRAY_FIELDS
            if f in arrays
        }
        for name, field in (("sq", "sq_model"), ("ref_sq", "ref_sq_model")):
            if f"{name}_bits" in meta:
                kw[field] = ScalarQuantizerModel(
                    vmin=arrays[f"{name}_vmin"],
                    vdiff=arrays[f"{name}_vdiff"],
                    bits=meta[f"{name}_bits"],
                )
        return CompositeCoarseRouter(
            nlist=meta["nlist"], d=meta["d"], k_factor=meta["k_factor"],
            codec_kind=meta["codec_kind"], refine_kind=meta["refine_kind"],
            **kw,
        )


@dataclass
class IVFNestedIndex:
    """IVF whose coarse quantizer is an arbitrary parenthesized
    sub-index (reference index_factory.cpp:241-289 — the generic
    `IVF<n>(<any sub-index>)` grammar the RCQ/LSQ special case belongs
    to). Flat codes; the codes-table layout, partition pruning, scan and
    merge are IDENTICAL to IVFIndex — stage A (probe selection) and the
    add-side assignment route through the sub-index instead of an exact
    argmin. L2 only (the quantizer contract minimizes squared L2).

    Why it matters at scale: with nlist ~ 2^20, exact assignment costs
    nq·nlist·d per batch; a PQ sub-index drops that to nq·M·ksub·(dsub +
    nlist/ksub-ish adds) and a nested IVF to nq·(k2 + nlist/k2)·d — the
    same reason the reference quantizes its quantizer at billion scale."""

    router: object  # NestedCoarseRouter | CompositeCoarseRouter
    metric: str = "l2"
    codes: DataFrame | None = None
    path: str | None = None

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        sub: tuple = ("flat",),
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
    ) -> "IVFNestedIndex":
        """Coarse k-means (train_q1), then train the sub-index ON the
        centroids (the reference trains the parenthesized quantizer on
        the same data the centroids came from; here the centroids ARE
        its corpus, which is what it must rank)."""
        km = KMeans(k=nlist, niter=niter, seed=seed).fit(vectors, vec_col=vec_col)
        if sub[0] == "composite":
            # recursive sub-grammar (reference parse_coarse_quantizer)
            router = CompositeCoarseRouter.build(sub[1], km.centroids, seed=seed)
        else:
            router = NestedCoarseRouter.build(sub, km.centroids, seed=seed)
        return IVFNestedIndex(router=router)

    @property
    def nlist(self) -> int:
        return self.router.nlist

    @property
    def centroids(self) -> np.ndarray | None:
        """Raw coarse table; None for the PQ-routed variant (the router
        keeps only the compressed form — see NestedCoarseRouter)."""
        return self.router.centroids

    def add(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> "IVFNestedIndex":
        """Sub-index top-1 assignment, map-only (broadcast router, Arrow
        zero-copy in, original vec column passed through)."""
        spark = vectors.sparkSession
        bc = spark.sparkContext.broadcast(self.router)

        def do(batches):
            import pyarrow as pa

            from faiss_spark.kernels import arrow_id_vec_blocks

            r = bc.value
            f32_list = pa.list_(pa.float32())
            for ids, X, vec_arr in arrow_id_vec_blocks(batches):
                lists = r.assign_np(X, 1)[:, 0]
                if vec_arr.type != f32_list:
                    vec_arr = vec_arr.cast(f32_list)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(lists.astype(np.int32), pa.int32()),
                        pa.array(ids, pa.int64()),
                        vec_arr,
                    ],
                    names=["list_no", "id", "vec"],
                )

        src = vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        self.codes = src.mapInArrow(
            do, schema="list_no int, id bigint, vec array<float>"
        )
        return self

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Stage A = sub-index ranking; stages B+C shared with IVFIndex.
        A query side past the driver bound auto-falls-back to the
        distributed cogroup twin with the SAME router assignment
        running executor-side (the router state broadcasts whole — it
        is the compressed form the grammar exists for)."""
        return _flat_search(self, "IVFNestedIndex.search", queries, k, nprobe, qid_col, qvec_col)

    def save(self, path: str) -> "IVFNestedIndex":
        """write_index: partitioned codes + the router's npy/json state
        (both router kinds — the enum NestedCoarseRouter and the
        recursive CompositeCoarseRouter serialize the same way)."""
        return _store_codes(self, self.codes, path)

    def _save_artifact(self, spark, path: str) -> None:
        arrays, meta = self.router.state()
        for name, arr in arrays.items():
            fsio.write_npy(
                spark, os.path.join(path, f"_nested_{name}.npy"),
                np.asarray(arr),
            )
        meta["metric"] = self.metric
        fsio.write_json(spark, os.path.join(path, "_nested_meta.json"), meta)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFNestedIndex":
        meta = fsio.read_json(spark, os.path.join(path, "_nested_meta.json"))
        arrays = {
            name: fsio.read_npy(
                spark, os.path.join(path, f"_nested_{name}.npy")
            )
            for name in meta["arrays"]
        }
        cls = (
            CompositeCoarseRouter
            if meta["router"] == "composite"
            else NestedCoarseRouter
        )
        return IVFNestedIndex(
            router=cls.from_state(meta, arrays),
            metric=meta["metric"],
            codes=spark.read.parquet(path),
            path=path,
        )


@dataclass
class IVFPQIndex:
    """IVF + PQ-on-residuals — the reference's flagship composite
    (IndexIVFPQ, faiss/IndexIVFPQ.h:34-49; search lifecycle SURVEY §3.2).

    Layout: partitioned codes table (list_no, id, code BINARY) — the PQ
    code of the RESIDUAL x − centroid[list_no] (by_residual=true default,
    faiss/IndexIVFPQ.h:38). Artifacts: coarse centroids + PQ codebooks,
    both broadcast at search time.

    Search stage B builds one ADC lookup table per (query, probed list):
    LUT[m][j] = ‖(q − c_list)_m − codebook[m][j]‖² — computed vectorized
    for all probes of a partition at once, then gather-sum over codes
    (the scan_codes of faiss/IndexIVFPQ.cpp, numpy instead of SIMD).
    """

    centroids: np.ndarray  # (nlist, d)
    pq: ProductQuantizerModel
    codes: DataFrame | None = None
    path: str | None = None

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        M: int = 8,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
        pq_niter: int = 15,
        nbits: int = 8,
    ) -> "IVFPQIndex":
        """train_q1 (coarse k-means) then PQ on residuals of the training
        sample (reference IndexIVF::train + train_residual,
        faiss/IndexIVF.h:189)."""
        km = KMeans(k=nlist, niter=niter, seed=seed).fit(vectors, vec_col=vec_col)
        C = km.centroids
        # residuals of a seeded sample for PQ training
        from faiss_spark.operators.codecs import _sampled_matrix

        X = _sampled_matrix(vectors, vec_col, 65536, seed)
        d2 = (
            (X * X).sum(1)[:, None]
            + (C * C).sum(1)[None, :]
            - 2.0 * (X @ C.T)
        )
        resid = X - C[d2.argmin(1)]
        # train PQ codebooks on the residual sample (driver-side numpy)
        from faiss_spark.operators.codecs import _kmeans_np

        d = X.shape[1]
        if d % M:
            raise ValueError(f"d={d} not divisible by M={M}")
        dsub = d // M
        ksub = min(1 << nbits, len(resid))
        books = np.empty((M, ksub, dsub), np.float64)
        for m in range(M):
            books[m], _ = _kmeans_np(
                resid[:, m * dsub : (m + 1) * dsub], ksub, pq_niter, seed + m
            )
        return IVFPQIndex(centroids=C, pq=ProductQuantizerModel(codebooks=books))

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFPQIndex":
        """Encode: assign list, PQ-encode the residual, write partitioned
        (reference IndexIVFPQ::encode_vectors)."""
        return _store_codes(
            self, self._encode_df(vectors, id_col=id_col, vec_col=vec_col), path
        )

    def _encode_df(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """Frozen-artifact encode to (list_no, id, code) rows — map-only
        (Arrow-native input: zero-copy GEMM tiles, no per-row objects),
        shared by add() and the streaming incremental writer."""

        def encode(state, X):
            C, pq = state
            d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
            lists = d2.argmin(1)
            return lists, pq.encode_np(X - C[lists])

        return _encode_lists(
            vectors, id_col, vec_col, (self.centroids, self.pq), encode
        )

    def _save_artifact(self, spark, path: str) -> None:
        fsio.write_npy(spark, os.path.join(path, "_ivfpq_centroids.npy"), self.centroids)
        fsio.write_npy(spark, os.path.join(path, "_ivfpq_codebooks.npy"), self.pq.codebooks)
        fsio.write_json(spark, os.path.join(path, "_ivfpq_meta.json"), {
                    "nlist": int(len(self.centroids)),
                    "d": int(self.centroids.shape[1]),
                    "M": int(self.pq.M),
                    "ksub": int(self.pq.ksub),
                })

    def save(self, path: str) -> "IVFPQIndex":
        """write_index (reference faiss/index_io.h:38): partitioned codes
        table + centroid/codebook artifacts — the train-once /
        search-many deployment shape."""
        return _store_codes(self, self.codes, path)

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "IVFPQIndex":
        """write_index into the CLUSTERED BY (list_no) layout (see
        IVFIndex.save_bucketed) — repeated ``pq_search_preassigned``
        cogroups become scan-only on the codes side."""
        return _write_bucketed_codes(
            self, path, ("list_no", "id", "code"), "ivfpq_codes_", nbuckets
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFPQIndex":
        return IVFPQIndex(
            centroids=fsio.read_npy(spark, os.path.join(path, "_ivfpq_centroids.npy")),
            pq=ProductQuantizerModel(
                codebooks=fsio.read_npy(spark, os.path.join(path, "_ivfpq_codebooks.npy"))
            ),
            codes=_attach_codes_table(spark, path),
            path=path,
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
        polysemous_ht: int | None = None,
    ) -> DataFrame:
        """ADC search over the probed partitions (SURVEY §3.2 stage B).

        polysemous_ht: with polysemous-trained codebooks (reorder via
        codecs.PolysemousTraining().optimize_pq(idx.pq) BEFORE add), skip
        candidates whose code Hamming distance to the query's
        per-list RESIDUAL code exceeds ht — the in-IVF-list Hamming
        pre-filter of reference faiss/IndexIVFPQ.h:44 polysemous_ht /
        IndexIVFPQ.cpp QueryTables (the query is re-encoded against each
        probed list's centroid, exactly as the reference's per-list
        q_code). ht > M·8 keeps everything (strict hd < ht as the
        reference's IndexIVFPQ.cpp, so ht = M·8 can drop an all-bits-flipped
        candidate);
        tighter ht trades recall for scan-cost at 100 TB."""
        return _scan_probed_lists(
            self, queries, _probe_planner(self, nprobe),
            _PQScanner(self, polysemous_ht), "IVFPQIndex.search",
            qid_col, qvec_col, k=k,
            fallback=lambda: pq_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
                polysemous_ht=polysemous_ht,
            ),
        )


def _preassigned_subshards(index: IVFIndex, max_cell_rows: int | None) -> dict:
    """Hot-cell detection for the cogroup search: {list_no: nsub} for
    every cell above ``max_cell_rows``. The cogroup hands a whole cell
    to ONE task (AQE cannot split a pandas group), so a pathological
    cell serializes the search and bounds task memory by the biggest
    cell — the same skew the dedup bucketed path already salts
    (dedup.py _hot_cell_shards). Detection runs only for FILE-BACKED
    indexes: the per-cell counts are then a column-pruned scan of the
    partition/bucket column (cheap at any scale, cached per index),
    whereas counting an unpersisted codes frame would re-run the whole
    assign GEMM — the r9 lesson. An in-memory index is bounded by what
    the session could materialize, so its cells can't reach the row
    counts this guards against."""
    if (
        max_cell_rows is None
        or getattr(index, "path", None) is None
        or index.codes is None
    ):
        return {}
    cache = getattr(index, "_subshard_cache", None)
    if cache is not None and cache[0] == max_cell_rows:
        return cache[1]
    counts = index.codes.groupBy("list_no").count().collect()  # nlist rows
    subs = {
        int(r["list_no"]): -(-int(r["count"]) // max_cell_rows)
        for r in counts
        if int(r["count"]) > max_cell_rows
    }
    index._subshard_cache = (max_cell_rows, subs)
    return subs


def search_preassigned(
    index: IVFIndex,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
    assign_payload=None,
    assign_fn=None,
) -> DataFrame:
    """Fully-distributed big-batch IVF search (reference
    contrib/ivf_tools.py:26-57 search_preassigned; parallel_mode 2 of
    faiss/IndexIVF.h:109-122 — parallelize over (query, probe) pairs).

    Unlike IVFIndex.search (which plans probes on the driver — right when
    queries fit in one driver pandas frame), this variant never collects
    queries: the probe table is computed distributed and COGROUPED with
    the codes table on list_no. Use it when the query side is itself
    huge (e.g. knn-graph over the whole table at 100 TB):

      1. probe assignment: broadcast centroids, top-nprobe per query
         (mapInArrow, no shuffle)
      2. probes ⟂⟂ codes cogrouped on list_no (one shuffle of each side,
         hash-partitioned by cell — the ivf_tools regrouping as a
         cogroup instead of a driver dict); per cell, the flat list
         scanner: ONE numpy GEMM of the cell's queries × the cell's
         codes and a tie-safe per-query top-k — only ≤ k survivors per
         (query, cell) leave the task
      3. global window top-k over the nq·nprobe·k survivors.

    The r11 rewrite replaced a pair JOIN + per-pair JVM expression: that
    plan materialized BOTH 64-float vectors on every (query, candidate)
    row — nq·nprobe·(n/nlist) pairs ≈ 22 GB through the shuffle at the
    6M-row probe — and windowed all of them. Measured (SCALE.md,
    "Big-batch IVF search 10× row", idle): 26.5 s → 2.76 s at 600k (9.6×);
    at 6M the old plan never finished a 10-minute budget, the cogroup
    plan takes 7.4 s (wall 2.67× for 10× rows under the √(2n) balance
    rule, per-unit throughput +18% — SCALE.md).

    r12 scale hardening:
      - codes side of the cogroup is SHUFFLE-FREE when the index was
        stored with ``IVFIndex.save_bucketed`` (CLUSTERED BY list_no —
        the scan itself proves the grouping, Spark elides the Exchange;
        plan-pinned in tests/test_plans.py). The plain partitioned
        layout still works, paying one corpus exchange per call.
      - hot cells (> ``max_cell_rows`` rows, file-backed indexes only —
        see _preassigned_subshards) are hash-split into sub-shards with
        the probes replicated per sub-shard, so a skewed list_no runs
        as ceil(|cell|/max_cell_rows) bounded tasks instead of one
        unbounded straggler. ``max_cell_rows=None`` disables.

    ``assign_fn(assign_payload, Q)`` overrides the index's own probe
    planner (the payload is broadcast, the function rides in the task
    closure); it must select exactly the cells the driver path probes.
    """
    return _preassigned_cogrouped(
        index, queries, _probe_planner(index, nprobe),
        _FlatScanner(index.metric), qid_col, qvec_col, max_cell_rows, k=k,
        assign=None if assign_fn is None else (assign_payload, assign_fn),
    )


def range_search_preassigned(
    index: IVFIndex,
    queries: DataFrame,
    radius: float,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch IVF RANGE search (reference
    IndexIVF::range_search_preassigned, faiss/IndexIVF.h:238,
    faiss/IndexIVF.cpp:730-827 — probes precomputed, scan parallelized
    over (query, probe) pairs).

    The range twin of :func:`search_preassigned`: same plan skeleton
    (map-side probe assignment with broadcast centroids, left-semi cell
    prune, probes⟂⟂codes cogrouped on list_no with hot-cell
    sub-sharding), but the per-cell scan emits EVERY (qid, id, dist)
    within the radius (similarity metrics: above it) through the tiled
    ``range_pairs`` kernel instead of keeping a top-k — and because
    inverted lists PARTITION the ids, no pair can appear twice, so
    there is NO global window: the plan ends map-only after the
    cogroup. That makes this strictly cheaper than the k-NN twin at
    equal probe volume — the natural 100 TB shape for radius joins
    (near-duplicate harvesting, contamination sweeps) where the query
    side is itself a huge DataFrame that must never collect.

    nprobe == nlist degenerates to the exact distributed range join
    (every cell scanned), which is how the oracle pins it.
    """
    return _preassigned_cogrouped(
        index, queries, _probe_planner(index, nprobe),
        _FlatScanner(index.metric), qid_col, qvec_col, max_cell_rows,
        radius=float(radius),
    )


def _empty_cand_table():
    import pyarrow as pa

    return pa.table(
        {
            "qid": pa.array([], pa.int64()),
            "id": pa.array([], pa.int64()),
            "dist": pa.array([], pa.float64()),
        }
    )


def _cand_table(qids, ids, dists):
    import pyarrow as pa

    return pa.table(
        {
            "qid": pa.array(np.asarray(qids, np.int64), pa.int64()),
            "id": pa.array(np.asarray(ids, np.int64), pa.int64()),
            "dist": pa.array(np.asarray(dists, np.float64), pa.float64()),
        }
    )


def _cand_queries(ptab):
    """(qids int64, Q (n,d) f64) from a probe-side cogroup table."""
    from faiss_spark.kernels import arrow_i64, arrow_list_matrix

    return arrow_i64(ptab.column("qid")), arrow_list_matrix(ptab.column("vec"))


def _window_topk(cands: DataFrame, k: int, largest: bool) -> DataFrame:
    """Global per-query top-k over cogroup candidate rows — the shared
    merge tail of every preassigned k-NN twin (tie-break (dist, id),
    WindowGroupLimit-pushed on the JVM side)."""
    sort = [
        F.col("dist").desc() if largest else F.col("dist").asc(),
        F.col("id").asc(),
    ]
    w = Window.partitionBy("qid").orderBy(*sort)
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "id", "dist", "rank")
    )


def _probe_table(
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    d: int,
    assign_payload,
    assign_fn,
    acc_nq=None,
) -> DataFrame:
    """Distributed probe assignment shared by every preassigned search:
    broadcast the (small) quantizer state, map each query batch through
    ``assign_fn(payload, Q) -> (nq, p) int array | list of 1-D arrays``
    (ragged when a per-query budget like max_codes trims the probe set),
    and emit one (qid, vec, list_no) row per probe via Arrow take — no
    per-row Python objects (at 100 TB the query side is itself huge;
    this map is the whole plan's fan-out). ``assign_payload`` may
    already be a Broadcast (callers whose cell scan shares the same
    artifacts broadcast once and reuse the handle). A query vector
    whose length is not the index dimension ``d`` fails the job with a
    clear message before any Python worker sees it; ``acc_nq`` counts
    the queries for IVFSearchStats."""
    from pyspark.broadcast import Broadcast

    spark = queries.sparkSession
    bc = (
        assign_payload
        if isinstance(assign_payload, Broadcast)
        else spark.sparkContext.broadcast(assign_payload)
    )

    def assign_probes(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_id_vec_blocks

        payload = bc.value
        f32_list = pa.list_(pa.float32())
        for qids, Q, vec_arr in arrow_id_vec_blocks(batches):
            if acc_nq is not None:
                acc_nq.add(len(qids))
            order = assign_fn(payload, Q)
            if isinstance(order, np.ndarray):
                rep = np.repeat(
                    np.arange(len(qids)), order.shape[1]
                )
                cells = order.astype(np.int32).ravel()
            else:  # ragged probe sets (per-query scan budgets)
                lens = np.fromiter(
                    (len(o) for o in order), np.int64, len(order)
                )
                rep = np.repeat(np.arange(len(qids)), lens)
                cells = (
                    np.concatenate(order).astype(np.int32)
                    if len(rep)
                    else np.empty(0, np.int32)
                )
            # the declared output schema is array<float>; an array<double>
            # input (DataFrames built from Python floats) must cast before
            # the zero-copy pass-through, as imi_assign/KMeansModel.assign do
            if vec_arr.type != f32_list:
                vec_arr = vec_arr.cast(f32_list)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[rep], pa.int64()),
                    vec_arr.take(pa.array(rep, pa.int64())),
                    pa.array(cells, pa.int32()),
                ],
                names=["qid", "vec", "list_no"],
            )

    vec = F.col(qvec_col)
    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.when(F.size(vec) == d, vec)
        .otherwise(
            F.raise_error(
                F.format_string(
                    f"query vector has %d components but the index has d={d}",
                    F.size(vec),
                )
            )
        )
        .alias("vec"),
    )
    return q.mapInArrow(
        assign_probes, schema="qid bigint, vec array<float>, list_no int"
    )


def _preassigned_cogrouped(
    lists,
    queries: DataFrame,
    planner: _ProbePlanner,
    scanner: _ListScanner,
    qid_col: str,
    qvec_col: str,
    max_cell_rows: int | None = 1_000_000,
    k: int | None = None,
    radius: float | None = None,
    stats: IVFSearchStats | None = None,
    assign: tuple | None = None,
) -> DataFrame:
    """The distributed route, shared by every IVF family (reference
    contrib/ivf_tools.py:26-57 search_preassigned): the planner and the
    scanner broadcast together (one copy of any array they share), probe
    assignment executor-side (``assign = (payload, fn)`` overrides the
    planner), then ``cogrouped_cell_scan`` — left-semi cell prune,
    hot/cold cogroup on list_no — with ONE generic ``scan_cell`` running
    the same ``_scan_lists`` loop as the driver route. k-NN candidates
    get the global window top-k; range candidates return as-is (no pair
    can appear twice)."""
    bc = queries.sparkSession.sparkContext.broadcast((planner, scanner))
    payload, assign_fn = assign or (bc, lambda ps, Q: ps[0](Q))
    accs = None
    if stats is not None:
        accs = (stats._acc_list_scans, stats._acc_ndis)
    probes = _probe_table(
        queries, qid_col, qvec_col, planner.d, payload, assign_fn,
        acc_nq=None if stats is None else stats._acc_nq,
    )
    codes = lists.codes.select("list_no", "id", *scanner.code_cols)
    def scan_cell(key, ptab, ctab):
        if ptab.num_rows == 0 or ctab.num_rows == 0:
            return _empty_cand_table()
        sc = bc.value[1]
        list_no = key[0].as_py()
        qids, Qg = _cand_queries(ptab)
        group = (
            list_no,
            sc.block([ctab.column(c) for c in sc.code_cols]),
            arrow_i64(ctab.column("id")),
        )
        parts = list(_scan_lists(
            sc, [group], Qg, {list_no: np.arange(len(Qg))}, k, radius, accs
        ))
        if not parts:
            return _empty_cand_table()
        qi, ids, dist = (np.concatenate(p) for p in zip(*parts))
        return _cand_table(qids[qi], ids, dist)

    cands = cogrouped_cell_scan(lists, probes, codes, max_cell_rows, scan_cell)
    return cands if radius is not None else _window_topk(cands, k, scanner.largest)


def cogrouped_cell_scan(
    index,
    probes: DataFrame,
    codes: DataFrame,
    max_cell_rows: int | None,
    scan_cell,
) -> DataFrame:
    """Generic cell-cogroup tail of the preassigned searches: left-semi
    cell prune + hot/cold cogroup on ``list_no``, parameterized by the
    per-cell scan. ``probes`` carries ``list_no`` plus whatever
    query payload the scan reads (float ``vec``, binary ``qcode``);
    ``codes`` likewise. Shared by the float k-NN/range twins, the coded
    (SQ/PQ/AQ) twins, and the binary Hamming twin
    (binary.binary_search_preassigned).

    The scan is Arrow-native (``applyInArrow``, r13 — VERDICT r12 #3):
    ``scan_cell(key, probe_table, code_table) -> pa.Table`` with columns
    (qid, id, dist). Replacing the per-cell pandas frames removed the
    row-object framing cost that made the range twin emit-bound
    (SCALE.md r12: 4.76× wall at 10× rows; the emitted pairs cross the
    cogroup boundary once per cell)."""
    # materialize ONCE: the probe table feeds both the cell-pruning
    # left-semi and the cogroup — re-executing probe assignment would pay
    # the centroid distance pass twice and, on a nondeterministic query
    # frame, could prune cells inconsistently with the cogroup's probe set
    probes = probes.localCheckpoint(eager=False)
    # selective-probe case: drop unprobed cells before they shuffle into
    # empty cogroups (left-semi on the small distinct-cell set)
    codes = codes.join(
        probes.select("list_no").distinct().hint("broadcast"),
        "list_no",
        "left_semi",
    )

    def cell_cogroup(p, c, keys):
        return (
            p.groupBy(*keys)
            .cogroup(c.groupBy(*keys))
            .applyInArrow(scan_cell, schema=_CAND_SCHEMA)
        )

    subs = _preassigned_subshards(index, max_cell_rows)
    if not subs:
        cands = cell_cogroup(probes, codes, ["list_no"])
    else:
        # hot/cold split: cold cells keep the zero-corpus-shuffle cogroup
        # (bucketed layout) while each hot cell's CODES hash into nsub
        # sub-shards and its PROBES replicate to all of them — the group
        # key becomes (list_no, sub), so the hot cell runs as nsub tasks
        # bounded by ~max_cell_rows each. Exact: the sub-shards PARTITION
        # the cell's candidates, each emits its local top-k, and the
        # global window merges — identical to the unsplit scan.
        hot = sorted(subs)
        nsub_col = F.element_at(
            F.create_map(*[F.lit(v) for kv in subs.items() for v in kv]),
            F.col("list_no"),
        )
        is_hot = F.col("list_no").isin(hot)
        p_hot = probes.filter(is_hot).withColumn(
            "sub", F.explode(F.sequence(F.lit(0), nsub_col - 1))
        )
        c_hot = codes.filter(is_hot).withColumn(
            "sub", F.pmod(F.hash("id"), nsub_col).cast("int")
        )
        cands = cell_cogroup(
            probes.filter(~is_hot), codes.filter(~is_hot), ["list_no"]
        ).unionByName(cell_cogroup(p_hot, c_hot, ["list_no", "sub"]))
    return cands


class _CoarseQuantized:
    """nlist and d of the IVF families whose coarse quantizer is either
    k-means ``centroids`` or a fitted additive ``coarse_q`` (SQ, AQ)."""

    @property
    def nlist(self) -> int:
        return (
            self.coarse_q.nlist
            if self.coarse_q is not None
            else len(self.centroids)
        )

    @property
    def d(self) -> int:
        return (
            self.coarse_q.codebooks.shape[2]
            if self.coarse_q is not None
            else self.centroids.shape[1]
        )


@dataclass
class IVFSQIndex(_CoarseQuantized):
    """IVF + per-component scalar-quantized codes (reference
    IndexIVFScalarQuantizer, faiss/IndexScalarQuantizer.h:64): the codes
    table stores SQ bytes instead of raw floats — 4× smaller scan at
    SQ8 — and the per-list scan decodes on the fly before the distance
    GEMM (the reference's SQ InvertedListScanner does exactly this).

    ``coarse_q`` (a fitted ResidualCoarseQuantizerModel) swaps the
    k-means coarse quantizer for an additive one — the reference's
    ``IVF1024(RCQ2x5),SQ8`` factory form (its own
    tests/test_factory.py:254): assignment and probe selection become a
    beam search over the M tiny codebooks, so at nlist = 2^16..2^20 the
    broadcast artifact stays M·ksub·d floats instead of nlist·d. The
    codes table, partition pruning, and scan are unchanged (SQ decodes
    raw vectors — the list centroid never enters the distance)."""

    centroids: np.ndarray | None
    sq: "ScalarQuantizerModel"
    metric: str = "l2"
    codes: DataFrame | None = None
    path: str | None = None
    coarse_q: object | None = None  # ResidualCoarseQuantizerModel

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        bits: int = 8,
        metric: str = "l2",
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
        rangestat: str = "minmax",
        rs_arg: float | None = None,
        coarse_q: object | None = None,
    ) -> "IVFSQIndex":
        from faiss_spark.operators.codecs import ScalarQuantizer

        if coarse_q is not None:
            # additive coarse (reference IVF<n>(RCQ<M>x<b>),SQ<b>): the
            # caller fits the RCQ/LSQ model; its beam is L2 — restrict
            # like the reference's quantizer contract
            if metric != "l2":
                raise ValueError(
                    "additive coarse quantizers rank by squared L2, "
                    f"got metric={metric!r}"
                )
            if coarse_q.nlist != nlist:
                raise ValueError(
                    f"coarse_q spans {coarse_q.nlist} virtual cells, "
                    f"expected nlist={nlist}"
                )
            km_centroids = None
        else:
            km = KMeans(
                k=nlist, niter=niter, seed=seed, spherical=(metric == "cosine")
            ).fit(vectors, vec_col=vec_col)
            km_centroids = km.centroids
        sq = ScalarQuantizer(
            bits=bits, rangestat=rangestat, rs_arg=rs_arg, seed=seed
        ).fit(vectors, vec_col=vec_col)
        return IVFSQIndex(
            centroids=km_centroids, sq=sq, metric=metric, coarse_q=coarse_q
        )

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFSQIndex":
        return _store_codes(
            self, self._encode_df(vectors, id_col=id_col, vec_col=vec_col), path
        )

    def _encode_df(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """Frozen-artifact encode to (list_no, id, code) rows — map-only,
        shared by add() and the streaming incremental writer. With an
        additive coarse, assignment is the beam over the broadcast
        codebooks (same map-only shape, no nlist·d artifact)."""
        from faiss_spark.operators.codecs import ScalarQuantizerModel

        def encode(state, X):
            C, cq, vmin, vdiff, bits, metric = state
            sqm = ScalarQuantizerModel(vmin=vmin, vdiff=vdiff, bits=bits)
            return _coarse_assign(X, C, cq, metric), sqm.encode_np(X)

        state = (
            self.centroids, self.coarse_q, self.sq.vmin, self.sq.vdiff,
            self.sq.bits, self.metric,
        )
        return _encode_lists(vectors, id_col, vec_col, state, encode)

    def _save_artifact(self, spark, path: str) -> None:
        meta = {
            "metric": self.metric,
            "bits": int(self.sq.bits),
            "variant": self.sq.variant,
        }
        if self.coarse_q is not None:
            fsio.write_npy(
                spark,
                os.path.join(path, "_ivfsq_rcq_codebooks.npy"),
                self.coarse_q.codebooks,
            )
            meta["coarse"] = {
                "beam_factor": self.coarse_q.beam_factor,
                "nbits_list": (
                    list(self.coarse_q.nbits_list)
                    if self.coarse_q.nbits_list is not None
                    else None
                ),
            }
        else:
            fsio.write_npy(
                spark, os.path.join(path, "_ivfsq_centroids.npy"), self.centroids
            )
        fsio.write_npy(spark, os.path.join(path, "_ivfsq_vmin.npy"), self.sq.vmin)
        fsio.write_npy(spark, os.path.join(path, "_ivfsq_vdiff.npy"), self.sq.vdiff)
        fsio.write_json(spark, os.path.join(path, "_ivfsq_meta.json"), meta)

    def save(self, path: str) -> "IVFSQIndex":
        """write_index: partitioned SQ codes + centroid/range artifacts."""
        return _store_codes(self, self.codes, path)

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "IVFSQIndex":
        """write_index into the CLUSTERED BY (list_no) layout (see
        IVFIndex.save_bucketed) — repeated ``sq_search_preassigned``
        cogroups become scan-only on the codes side."""
        return _write_bucketed_codes(
            self, path, ("list_no", "id", "code"), "ivfsq_codes_", nbuckets
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFSQIndex":
        from faiss_spark.operators.codecs import ScalarQuantizerModel

        meta = fsio.read_json(spark, os.path.join(path, "_ivfsq_meta.json"))
        coarse_q = None
        centroids = None
        if meta.get("coarse"):
            from faiss_spark.operators.codecs import ResidualCoarseQuantizerModel

            cm = meta["coarse"]
            coarse_q = ResidualCoarseQuantizerModel(
                codebooks=fsio.read_npy(
                    spark, os.path.join(path, "_ivfsq_rcq_codebooks.npy")
                ),
                beam_factor=cm["beam_factor"],
                nbits_list=(
                    tuple(cm["nbits_list"]) if cm["nbits_list"] else None
                ),
            )
        else:
            centroids = fsio.read_npy(
                spark, os.path.join(path, "_ivfsq_centroids.npy")
            )
        return IVFSQIndex(
            centroids=centroids,
            coarse_q=coarse_q,
            sq=ScalarQuantizerModel(
                vmin=fsio.read_npy(spark, os.path.join(path, "_ivfsq_vmin.npy")),
                vdiff=fsio.read_npy(spark, os.path.join(path, "_ivfsq_vdiff.npy")),
                bits=meta["bits"],
                variant=meta["variant"],
            ),
            metric=meta["metric"],
            codes=_attach_codes_table(spark, path),
            path=path,
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Same plan as IVFIndex.search; the scan decodes SQ bytes to a
        float block before the GEMM (asymmetric: queries stay exact).
        Probe selection under an additive coarse is the RCQ beam
        (reference ResidualCoarseQuantizer::search). A query side past
        the driver bound auto-falls-back to the fully-distributed
        ``sq_search_preassigned`` cogroup over the coded lists."""
        return _scan_probed_lists(
            self, queries, _probe_planner(self, nprobe), _SQScanner(self),
            "IVFSQIndex.search", qid_col, qvec_col, k=k,
            fallback=lambda: sq_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
            ),
        )


def sq_search_preassigned(
    index: "IVFSQIndex",
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch search over SQ-CODED inverted lists —
    search_preassigned for IndexIVFScalarQuantizer (the reference's
    big-batch contrib path runs on any IndexIVF subclass; here the
    codes side of the cogroup carries SQ bytes, 4–8× smaller than raw
    f32 vectors, and each cell decodes on the fly before its GEMM —
    the SQ InvertedListScanner inside the cogroup).

    At 100 TB this is the preferred big-batch shape: the corpus-side
    payload through the exchange (or the bucketed scan) is the CODED
    table, so an SQ8 index moves a quarter of what the raw-vector
    cogroup moves at identical probe volume. Probe selection matches
    IVFSQIndex.search exactly — k-means argsort, or the RCQ/LSQ beam
    for an additive coarse (the fitted coarse model broadcasts whole:
    it is the same numpy state a driver-planned search holds)."""
    return _preassigned_cogrouped(
        index, queries, _probe_planner(index, nprobe), _SQScanner(index),
        qid_col, qvec_col, max_cell_rows, k=k,
    )


def _pq_code_view(raw: np.ndarray, M: int) -> np.ndarray:
    """(n, M) sub-code index matrix from the stored byte matrix: the
    code column stores ``ProductQuantizerModel.code_dtype`` bytes —
    1 byte per sub-code for ksub ≤ 256, 2 bytes (little-endian uint16)
    above (reference ProductQuantizer.h:30 bit-packs arbitrary widths;
    two whole bytes carry the same information here). Shared by every
    ADC scan so a >8-bit PQ decodes identically on the driver-planned
    and preassigned paths."""
    if raw.shape[1] == M:
        return raw
    if raw.shape[1] == 2 * M:
        return np.ascontiguousarray(raw).view(np.uint16)
    raise ValueError(
        f"code width {raw.shape[1]} matches neither 1- nor 2-byte "
        f"sub-codes for M={M}"
    )


def pq_search_preassigned(
    index,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
    polysemous_ht: int | None = None,
    max_codes: int | None = None,
) -> DataFrame:
    """Fully-distributed big-batch ADC search over PQ-CODED inverted
    lists — search_preassigned for IndexIVFPQ and its IMI-coarse form
    (reference contrib/ivf_tools.py:26-57 is index-agnostic; the
    flagship 100 TB composite of benchs/distributed_ondisk/README.md is
    exactly this OPQ+IVF+PQ case — VERDICT r12 #1).

    Same cogroup skeleton as the float/SQ/binary twins
    (``cogrouped_cell_scan``: distributed probe assignment, left-semi
    cell prune, hot-cell sub-sharding, bucketed zero-corpus-shuffle
    layout via ``save_bucketed``), with the PQ list scanner building
    each cell's residual ADC LUTs from the broadcast codebooks
    (``_PQScanner``: the precomputed-term decomposition
    lut[q,m,j] = (‖d_mj‖² + 2⟨c_lm, d_mj⟩) − 2⟨q_m, d_mj⟩ plus the
    per-query coarse term ‖q − c_l‖²). The codes side of the cogroup
    carries M bytes/row — cheaper through the exchange than even the SQ
    twin's 4–8×.

    Probe selection is the SAME probe planner the driver path runs:
    k-means L2 argsort for IVFPQIndex, the IMI product-distance grid for
    IMIPQIndex, including the ``max_codes`` nearest-first scan budget
    (ragged probe sets) and the in-scan ``polysemous_ht`` Hamming
    pre-filter."""
    return _preassigned_cogrouped(
        index, queries, _probe_planner(index, nprobe, max_codes),
        _PQScanner(index, polysemous_ht), qid_col, qvec_col, max_cell_rows,
        k=k,
    )


def aq_search_preassigned(
    index,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch search over ADDITIVE-QUANTIZER-coded
    inverted lists — search_preassigned for IndexIVFAdditiveQuantizer
    (reference contrib/ivf_tools.py pattern over
    faiss/IndexIVFAdditiveQuantizer.h:26). Same cogroup skeleton as the
    SQ/PQ twins; the per-cell scan gather-sums the M codebook rows plus
    the list centroid (the AQ decode) in bounded chunks before the
    distance pass, honoring the index's '_N*' stored-norm search_type
    estimator exactly as the driver-planned scan does. Probe selection
    matches IVFAQIndex.search — metric argsort, or the RCQ/LSQ beam
    under an additive coarse."""
    return _preassigned_cogrouped(
        index, queries, _probe_planner(index, nprobe), _AQScanner(index),
        qid_col, qvec_col, max_cell_rows, k=k,
    )


def pqr_search_preassigned(
    index,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
    max_cell_rows: int | None = 1_000_000,
) -> DataFrame:
    """Fully-distributed big-batch IVFPQR codes-rerank search —
    search_preassigned for the reference's two-stage IndexIVFPQR
    (faiss/IndexIVFPQR.h:19) in its codes-only mode. The per-cell scan
    mirrors IVFPQRIndex._search_pqr_codes chunk for chunk: ADC estimate
    over the pq1 codes, per-chunk shortlist of k·k_factor, refine
    decode (pq1 + refine_pq gather-sum) for the shortlist union only,
    exact re-rank of the shortlist — the same ≥-reference-quality
    superset shortlist discipline, now over the cogroup so the query
    side never collects."""
    if index.refine_pq is None:
        raise ValueError(
            "pqr_search_preassigned needs a refine PQ; train with M_refine"
        )
    return _preassigned_cogrouped(
        index.ivfpq, queries, _probe_planner(index.ivfpq, nprobe),
        _PQRScanner(index, k), qid_col, qvec_col, max_cell_rows, k=k,
    )


def _imi_half_dists(X: np.ndarray, sub: np.ndarray) -> list[np.ndarray]:
    """(n, ksub) squared L2 of each half of X to that half's centroids —
    the shared first step of IMI assignment, encoding and probing."""
    dsub = sub.shape[2]
    out = []
    for h in range(2):
        s, C = X[:, h * dsub : (h + 1) * dsub], sub[h]
        out.append((s * s).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (s @ C.T))
    return out


def _imi_cells(X: np.ndarray, sub: np.ndarray) -> np.ndarray:
    """IMI cell per row: argmin(first half) · ksub + argmin(second half)."""
    d0, d1 = _imi_half_dists(X, sub)
    return d0.argmin(1) * sub.shape[1] + d1.argmin(1)


def _imi_centroids(sub: np.ndarray, lists: np.ndarray) -> np.ndarray:
    """(n, d) centroids of IMI cells, concatenated from the halves (the
    ksub²×d table is never materialized)."""
    i, j = lists // sub.shape[1], lists % sub.shape[1]
    return np.concatenate([sub[0][i], sub[1][j]], axis=-1)


def imi_assign(
    vectors: DataFrame,
    sub_centroids: np.ndarray,
    id_col: str = "id",
    vec_col: str = "vec",
    keep_vec: bool = False,
) -> DataFrame:
    """Multi-index (IMI) coarse assignment (reference MultiIndexQuantizer,
    faiss/IndexPQ.h:139; factory "IMI2x<n>"): the coarse vocabulary is the
    PRODUCT of two half-space codebooks — nlist = k² cells from only 2k
    trained centroids. Cell id = argmin(first half) * k + argmin(second
    half). Broadcast sub-codebooks, per-half GEMM argmin, no shuffle.

    sub_centroids: (2, k, d/2) array. keep_vec=True also carries the
    vector through (the add() path — avoids a join-back shuffle)."""
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(sub_centroids)

    def do(batches):
        import pyarrow as pa

        from faiss_spark.kernels import arrow_id_vec_blocks

        C = bc.value
        f32_list = pa.list_(pa.float32())
        for ids, X, vec_arr in arrow_id_vec_blocks(batches):
            cells = _imi_cells(X, C)
            arrays = [
                pa.array(ids, pa.int64()),
                pa.array(cells.astype(np.int32), pa.int32()),
            ]
            names = ["id", "list_no"]
            if keep_vec:
                if vec_arr.type != f32_list:
                    vec_arr = vec_arr.cast(f32_list)
                arrays.append(vec_arr)
                names.append("vec")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    src = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    schema = "id bigint, list_no int" + (", vec array<float>" if keep_vec else "")
    return src.mapInArrow(do, schema=schema)


@dataclass
class IMIIVFIndex:
    """IVFFlat with a MultiIndexQuantizer coarse — the factory "IMI2x<b>"
    form (reference faiss/index_factory.cpp:241-289 parse path,
    faiss/IndexPQ.h:139 MultiIndexQuantizer): nlist = 2^(2b) cells from
    two 2^b half-space codebooks. Coarse probing evaluates the PRODUCT
    distance d1[i] + d2[j] over cell (i, j) — the driver-side analogue of
    the reference's multi-index heap traversal — then the scan is the
    shared partition-pruned _scan_probed_lists plan. L2 only (as the
    reference's IMI)."""

    sub_centroids: np.ndarray  # (2, ksub, d/2)
    metric: str = "l2"
    codes: DataFrame | None = None

    @property
    def ksub(self) -> int:
        return self.sub_centroids.shape[1]

    @property
    def nlist(self) -> int:
        return self.ksub * self.ksub

    # duck-typed alias so helpers that read len(index.centroids) see the
    # virtual cell count
    @property
    def centroids(self) -> np.ndarray:
        return np.empty((self.nlist, 0))

    @staticmethod
    def train(
        vectors: DataFrame,
        nbits: int,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 15,
    ) -> "IMIIVFIndex":
        sub = train_imi(vectors, 1 << nbits, vec_col=vec_col, seed=seed, niter=niter)
        return IMIIVFIndex(sub_centroids=sub)

    def add(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec",
        path: str | None = None,
    ):
        codes = imi_assign(
            vectors, self.sub_centroids, id_col=id_col, vec_col=vec_col,
            keep_vec=True,
        ).select("list_no", "id", "vec")
        if path is not None:
            codes.repartition("list_no").write.mode("overwrite").partitionBy(
                "list_no"
            ).parquet(path)
            spark = vectors.sparkSession
            fsio.write_npy(spark, os.path.join(path, "_imi_sub_centroids.npy"), self.sub_centroids)
            fsio.write_json(spark, os.path.join(path, "_imi_meta.json"), {"metric": self.metric, "ksub": int(self.ksub)})
            self.codes = spark.read.parquet(path)
        else:
            self.codes = codes
        return self

    def save(self, path: str) -> "IMIIVFIndex":
        """write_index for an already-built IMI index."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        self.codes.repartition("list_no").write.mode("overwrite").partitionBy(
            "list_no"
        ).parquet(path)
        fsio.write_npy(spark, os.path.join(path, "_imi_sub_centroids.npy"), self.sub_centroids)
        fsio.write_json(spark, os.path.join(path, "_imi_meta.json"), {"metric": self.metric, "ksub": int(self.ksub)})
        self.codes = spark.read.parquet(path)
        return self

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IMIIVFIndex":
        meta = fsio.read_json(spark, os.path.join(path, "_imi_meta.json"))
        return IMIIVFIndex(
            sub_centroids=fsio.read_npy(spark, os.path.join(path, "_imi_sub_centroids.npy")),
            metric=meta["metric"],
            codes=spark.read.parquet(path),
        )

    def _probe(self, Q: np.ndarray, nprobe: int) -> np.ndarray:
        """Top-nprobe cells per query by product distance (reference
        MultiIndexQuantizer::search, faiss/IndexPQ.cpp multi-index heap)."""
        d0, d1 = _imi_half_dists(Q, self.sub_centroids)
        # (nq, ksub, ksub) product distances; cell = i * ksub + j
        cd = d0[:, :, None] + d1[:, None, :]
        flat = cd.reshape(len(Q), -1)
        nprobe = min(nprobe, flat.shape[1])
        part = np.argpartition(flat, nprobe - 1, axis=1)[:, :nprobe]
        # deterministic probe order: by (distance, cell)
        order = np.lexsort(
            (part, np.take_along_axis(flat, part, axis=1)), axis=1
        )
        return np.take_along_axis(part, order, axis=1)

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 1,
        qid_col: str = "qid", qvec_col: str = "vec",
    ) -> DataFrame:
        """Product-distance probing + flat scan; a query side past the
        driver bound auto-falls-back to the distributed cogroup twin
        with the SAME `_probe` grid (or MIQ2 truncated grid — the
        subclass override rides along in the planner) executor-side."""
        return _flat_search(self, "IMIIVFIndex.search", queries, k, nprobe, qid_col, qvec_col)

    def _probe_state(self) -> dict:
        """Constructor kwargs that reproduce this coarse quantizer's
        `_probe` on an executor (no codes DataFrame — just the arrays)."""
        return {"sub_centroids": self.sub_centroids}


@dataclass
class MIQ2IVFIndex(IMIIVFIndex):
    """IVFFlat with a MultiIndexQuantizer2 coarse (reference
    faiss/IndexPQ.h:171 MultiIndexQuantizer2, IndexPQ.cpp:1000-1110): the
    per-half assignment is performed by ASSIGN SUB-INDEXES holding that
    half's ksub centroids, each returning only its top-k2 candidates
    (k2 = min(K, ksub) in the reference), and the product combination
    min-sums over the truncated k2×k2 grid instead of the full
    ksub×ksub one. With assign_k2 = ksub this is exactly
    MultiIndexQuantizer (pinned by the oracle entry); smaller k2 trades
    probe recall for an O((ksub/k2)²) smaller candidate grid — the knob
    that matters when ksub is 2^12+ at 1B-vector nlist. The per-half
    sub-index here is the exact flat search (one small GEMM against
    broadcast half-centroids); an approximate sub-index would slot into
    the same per-half top-k2 step, as in the reference's
    MultiIndexQuantizer2(d, nbits, assign_index_0, assign_index_1)."""

    assign_k2: int | None = None

    def _probe_state(self) -> dict:
        return {
            "sub_centroids": self.sub_centroids,
            "assign_k2": self.assign_k2,
        }

    @staticmethod
    def train(
        vectors: DataFrame,
        nbits: int,
        assign_k2: int | None = None,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 15,
    ) -> "MIQ2IVFIndex":
        sub = train_imi(vectors, 1 << nbits, vec_col=vec_col, seed=seed, niter=niter)
        # reference MultiIndexQuantizer2::train = MIQ train + add the
        # trained centroids to the per-half assign sub-indexes
        return MIQ2IVFIndex(sub_centroids=sub, assign_k2=assign_k2)

    def _probe(self, Q: np.ndarray, nprobe: int) -> np.ndarray:
        ksub = self.ksub
        k2 = min(self.assign_k2 or ksub, ksub)
        ids_h, dis_h = [], []
        for D in _imi_half_dists(Q, self.sub_centroids):
            # the assign sub-index's top-k2 (deterministic (dist, id))
            part = np.argpartition(D, k2 - 1, axis=1)[:, :k2]
            pd_ = np.take_along_axis(D, part, axis=1)
            order = np.lexsort((part, pd_), axis=1)
            ids_h.append(np.take_along_axis(part, order, axis=1))
            dis_h.append(np.take_along_axis(pd_, order, axis=1))
        # min-sum over the truncated k2×k2 grid (MinSumK over pre-sorted
        # per-half lists in the reference; the grid is small enough here
        # to evaluate densely)
        cd = dis_h[0][:, :, None] + dis_h[1][:, None, :]
        cells = ids_h[0][:, :, None] * ksub + ids_h[1][:, None, :]
        flat_d = cd.reshape(len(Q), -1)
        flat_c = cells.reshape(len(Q), -1)
        nprobe = min(nprobe, flat_d.shape[1])
        part = np.argpartition(flat_d, nprobe - 1, axis=1)[:, :nprobe]
        order = np.lexsort(
            (
                np.take_along_axis(flat_c, part, axis=1),
                np.take_along_axis(flat_d, part, axis=1),
            ),
            axis=1,
        )
        sel = np.take_along_axis(part, order, axis=1)
        return np.take_along_axis(flat_c, sel, axis=1)


@dataclass
class IMIPQIndex:
    """IMI coarse + PQ-on-residual codes — the reference's classic
    billion-scale composite (factory "IMI2x<b>,PQ<M>", IndexIVFPQ over a
    MultiIndexQuantizer: index_factory.cpp:466; the SIFT1B/Deep1B
    "IMI2x12,PQ16" bench configuration). nlist = ksub² virtual cells
    from 2·ksub trained half-centroids; the full centroid of cell
    (i, j) is concat(c0_i, c1_j) and is RECONSTRUCTED where needed —
    the 2^(2b)×d centroid matrix is never materialized (at 2x12 / d=64
    it would be ~4 GB f64 per executor; the halves are ~4 MB).

    Assignment is separable (argmin over the product grid = per-half
    argmin → imi_assign's map-only pass); search probes by product
    distance (the IMI driver plan) and scans with per-list residual ADC
    LUTs, hoisting the query-independent ‖d‖²+2⟨c_l,d⟩ term per probed
    LIST inside the task (the IVFPQ precomputed-table decomposition,
    computed lazily per cell because materializing it for 2^(2b) cells
    is exactly what IMI exists to avoid)."""

    sub_centroids: np.ndarray  # (2, ksub, d/2)
    pq: ProductQuantizerModel
    codes: DataFrame | None = None
    path: str | None = None

    @property
    def ksub(self) -> int:
        return self.sub_centroids.shape[1]

    @property
    def nlist(self) -> int:
        return self.ksub * self.ksub

    @staticmethod
    def train(
        vectors: DataFrame,
        nbits: int,
        M: int = 8,
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 15,
        pq_niter: int = 15,
        pq_nbits: int = 8,
    ) -> "IMIPQIndex":
        from faiss_spark.operators.codecs import _kmeans_np, _sampled_matrix

        sub = train_imi(vectors, 1 << nbits, vec_col=vec_col, seed=seed, niter=niter)
        idx = IMIPQIndex(sub_centroids=sub, pq=None)  # books next
        # PQ trained on residuals of a seeded sample (separable assign)
        X = _sampled_matrix(vectors, vec_col, 65536, seed)
        d = X.shape[1]
        if d % M:
            raise ValueError(f"d={d} not divisible by M={M}")
        resid = X - _imi_centroids(sub, _imi_cells(X, sub))
        dsub = d // M
        ksub_pq = min(1 << pq_nbits, len(resid))
        books = np.empty((M, ksub_pq, dsub), np.float64)
        for m in range(M):
            books[m], _ = _kmeans_np(
                resid[:, m * dsub : (m + 1) * dsub], ksub_pq, pq_niter, seed + m
            )
        idx.pq = ProductQuantizerModel(codebooks=books)
        return idx

    def _encode_df(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """Map-only (list_no, id, code) encode — separable IMI assign +
        PQ residual code in one Arrow-native pass (shared by add and
        streaming)."""

        def encode(state, X):
            sub, pq = state
            cells = _imi_cells(X, sub)
            return cells, pq.encode_np(X - _imi_centroids(sub, cells))

        return _encode_lists(
            vectors, id_col, vec_col, (self.sub_centroids, self.pq), encode
        )

    def add(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec",
        path: str | None = None,
    ) -> "IMIPQIndex":
        return _store_codes(
            self, self._encode_df(vectors, id_col=id_col, vec_col=vec_col), path
        )

    def _save_artifact(self, spark, path: str) -> None:
        fsio.write_npy(
            spark, os.path.join(path, "_imipq_sub_centroids.npy"), self.sub_centroids
        )
        fsio.write_npy(
            spark, os.path.join(path, "_imipq_codebooks.npy"), self.pq.codebooks
        )
        fsio.write_json(
            spark, os.path.join(path, "_imipq_meta.json"),
            {"ksub": int(self.ksub), "M": int(self.pq.M)},
        )

    def save(self, path: str) -> "IMIPQIndex":
        return _store_codes(self, self.codes, path)

    def save_bucketed(self, path: str, nbuckets: int | None = None) -> "IMIPQIndex":
        """write_index into the CLUSTERED BY (list_no) layout (see
        IVFIndex.save_bucketed) — repeated ``pq_search_preassigned``
        cogroups become scan-only on the codes side."""
        return _write_bucketed_codes(
            self, path, ("list_no", "id", "code"), "imipq_codes_", nbuckets
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IMIPQIndex":
        return IMIPQIndex(
            sub_centroids=fsio.read_npy(
                spark, os.path.join(path, "_imipq_sub_centroids.npy")
            ),
            pq=ProductQuantizerModel(
                codebooks=fsio.read_npy(spark, os.path.join(path, "_imipq_codebooks.npy"))
            ),
            codes=_attach_codes_table(spark, path),
            path=path,
        )

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 1,
        qid_col: str = "qid", qvec_col: str = "vec",
        polysemous_ht: int | None = None,
        max_codes: int | None = None,
    ) -> DataFrame:
        """Product-distance probing + per-list residual ADC scan.

        polysemous_ht and max_codes make this THE SIFT1B serving row
        (benchs/README.md:122 "IMI2x12,PQ16, nprobe=16, max_codes=10000,
        ht=48"): the per-list residual-code Hamming pre-filter of
        IndexIVFPQ.h:44 and the IndexIVF.cpp:415 scan budget (probes cut
        nearest-first once cumulative list sizes reach the budget,
        crossing list included — planned from cached per-list counts, so
        the pruned scan never reads the skipped partitions)."""
        return _scan_probed_lists(
            self, queries, _probe_planner(self, nprobe, max_codes),
            _PQScanner(self, polysemous_ht), "IMIPQIndex.search",
            qid_col, qvec_col, k=k,
            fallback=lambda: pq_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
                polysemous_ht=polysemous_ht, max_codes=max_codes,
            ),
        )


def train_imi(
    vectors: DataFrame,
    k: int,
    vec_col: str = "vec",
    seed: int = 1234,
    niter: int = 15,
) -> np.ndarray:
    """Train the two half-space codebooks of an IMI2x coarse quantizer:
    independent k-means per dimension half (reference MultiIndexQuantizer
    training). Returns (2, k, d/2)."""
    from faiss_spark.operators.codecs import _kmeans_np, _sampled_matrix

    X = _sampled_matrix(vectors, vec_col, 65536, seed)
    d = X.shape[1]
    if d % 2:
        raise ValueError(f"IMI needs even d, got {d}")
    dsub = d // 2
    out = np.empty((2, min(k, len(X)), dsub), np.float64)
    for h in range(2):
        C, _ = _kmeans_np(X[:, h * dsub : (h + 1) * dsub], k, niter, seed + h)
        out[h] = C
    return out


@dataclass
class IVFPQRIndex:
    """IVFPQ + re-rank — the IVFPQR pattern (reference
    faiss/IndexIVFPQR.h:19: a second refinement stage re-ranks k·k_factor
    ADC candidates). Two rerank modes:

    - ``rerank='raw'`` (default when a raw table exists): EXACT
      raw-vector distance via refine_search — strictly dominates the
      reference's PQR residual codes whenever the raw table is kept.
    - ``rerank='pqr_codes'``: the reference's own second-stage — a
      refine PQ (``M_refine`` sub-quantizers) trained on the SECOND
      level residual x − centroid − pq1_decode(code1) (reference
      IndexIVFPQR.cpp train_residual/add_core), stored as an extra
      ``rcode`` column of the codes table. At 100 TB this is the mode
      PQR exists for: the raw vectors are NOT kept, and the index is
      (M + M_refine) bytes/row instead of 4·d.

    pqr_codes search plan (one pass, partition-pruned, no raw-vector
    column anywhere): stage A probes on the driver; one Arrow-native scan
    per probed cell computes the ADC estimate for every code, shortlists
    the per-cell top k·k_factor by ADC (the reference shortlists the
    GLOBAL top k·k_factor — per-cell is a superset, so refined quality
    is ≥ the reference's), decodes pq1 + refine_pq for the shortlist
    only, and re-ranks by ‖(q − c) − (ŷ₁ + ŷ₂)‖²; then the global
    window top-k. Refine decode cost is O(k·k_factor·d) per
    (query, probed cell) — the reference's n_refine discipline
    (IndexIVFPQR.cpp:130-184)."""

    ivfpq: IVFPQIndex
    vectors: DataFrame | None = None
    k_factor: int = 4
    refine_pq: ProductQuantizerModel | None = None

    @staticmethod
    def train(
        vectors: DataFrame, nlist: int, M: int = 8, k_factor: int = 4,
        seed: int = 1234, M_refine: int | None = None,
        nbits_refine: int = 8, pq_niter: int = 15, vec_col: str = "vec",
        id_col: str = "id", **kw,
    ) -> "IVFPQRIndex":
        """Train coarse + PQ1 (+ refine PQ on 2nd-level residuals when
        M_refine is set), then encode. With M_refine the add pass writes
        (list_no, id, code, rcode) in ONE Arrow-native map pass — the raw vectors
        are never needed again after this pass."""
        base = IVFPQIndex.train(
            vectors, nlist=nlist, M=M, seed=seed, pq_niter=pq_niter,
            vec_col=vec_col, **kw,
        )
        if M_refine is None:
            base.add(vectors, id_col=id_col, vec_col=vec_col)
            return IVFPQRIndex(ivfpq=base, vectors=vectors, k_factor=k_factor)

        from faiss_spark.operators.codecs import _kmeans_np, _sampled_matrix

        # refine PQ trained on 2nd-level residuals of a seeded sample
        # (reference IndexIVFPQR.cpp:50-66 train_residual)
        C = base.centroids
        X = _sampled_matrix(vectors, vec_col, 65536, seed)
        d = X.shape[1]
        if d % M_refine:
            raise ValueError(f"d={d} not divisible by M_refine={M_refine}")
        d2 = (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
        lists = d2.argmin(1)
        r1 = X - C[lists]
        r2 = r1 - base.pq.decode_np(base.pq.encode_np(r1))
        dsub = d // M_refine
        ksub = min(1 << nbits_refine, len(r2))
        books = np.empty((M_refine, ksub, dsub), np.float64)
        for m in range(M_refine):
            books[m], _ = _kmeans_np(
                r2[:, m * dsub : (m + 1) * dsub], ksub, pq_niter, seed + 101 + m
            )
        idx = IVFPQRIndex(
            ivfpq=base, vectors=vectors, k_factor=k_factor,
            refine_pq=ProductQuantizerModel(codebooks=books),
        )
        idx._add_with_refine(vectors, id_col=id_col, vec_col=vec_col)
        return idx

    def _add_with_refine(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFPQRIndex":
        """Encode list assignment, PQ1 code AND refine code in one
        map-only pass (reference IndexIVFPQR::add_core: add_core_o keeps
        residual_2, refine_pq.compute_codes on it)."""
        spark = vectors.sparkSession
        bc = spark.sparkContext.broadcast(
            (self.ivfpq.centroids, self.ivfpq.pq.codebooks,
             self.refine_pq.codebooks)
        )

        def enc(batches):
            import pyarrow as pa

            from faiss_spark.kernels import arrow_id_vec_blocks

            C, books1, books2 = bc.value
            pq1 = ProductQuantizerModel(codebooks=books1)
            pq2 = ProductQuantizerModel(codebooks=books2)
            cn = (C * C).sum(1)
            for ids, X, _ in arrow_id_vec_blocks(batches):
                d2 = (X * X).sum(1)[:, None] + cn[None, :] - 2.0 * (X @ C.T)
                lists = d2.argmin(1)
                r1 = X - C[lists]
                c1 = pq1.encode_np(r1)
                r2 = r1 - pq1.decode_np(c1)
                c2 = pq2.encode_np(r2)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(lists.astype(np.int32), pa.int32()),
                        pa.array(ids, pa.int64()),
                        pa.array(list(map(bytes, c1)), pa.binary()),
                        pa.array(list(map(bytes, c2)), pa.binary()),
                    ],
                    names=["list_no", "id", "code", "rcode"],
                )

        src = vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        codes = src.mapInArrow(
            enc, schema="list_no int, id bigint, code binary, rcode binary"
        )
        if path is not None:
            codes.repartition("list_no").write.mode("overwrite").partitionBy(
                "list_no"
            ).parquet(path)
            codes = spark.read.parquet(path)
            self.ivfpq.path = path
        # IVFPQIndex.search selects (list_no, id, code) explicitly, so the
        # extra rcode column rides along harmlessly for ADC-only search
        self.ivfpq.codes = codes
        return self

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 1,
        rerank: str | None = None, qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        if rerank is None:
            rerank = "raw" if self.vectors is not None else "pqr_codes"
        if rerank == "raw":
            from faiss_spark.operators.refine import refine_search

            if self.vectors is None:
                raise ValueError(
                    "rerank='raw' needs the raw-vector table; this index "
                    "was built codes-only — use rerank='pqr_codes'"
                )
            cands = self.ivfpq.search(
                queries, k * self.k_factor, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
            )
            return refine_search(cands, self.vectors, queries, k)
        if rerank != "pqr_codes":
            raise ValueError(f"unknown rerank mode {rerank!r}")
        if self.refine_pq is None:
            raise ValueError(
                "rerank='pqr_codes' needs a refine PQ; train with M_refine"
            )
        return _scan_probed_lists(
            self.ivfpq, queries, _probe_planner(self.ivfpq, nprobe),
            _PQRScanner(self, k), "IVFPQRIndex.search", qid_col, qvec_col,
            k=k,
            fallback=lambda: pqr_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
            ),
        )

    def save(self, path: str) -> "IVFPQRIndex":
        """write_index: the base IVFPQ layout (codes table including the
        rcode column when M_refine was used) + refine-PQ artifacts. The
        raw-vector table is deliberately NOT persisted — a reloaded index
        is codes-only and searches in the reference's own
        rerank='pqr_codes' mode (the 100 TB shape); re-attach ``vectors``
        after load to recover the exact raw rerank."""
        self.ivfpq.save(path)
        spark = self.ivfpq.codes.sparkSession
        if self.refine_pq is not None:
            fsio.write_npy(
                spark,
                os.path.join(path, "_ivfpqr_refine_codebooks.npy"),
                self.refine_pq.codebooks,
            )
        fsio.write_json(spark, os.path.join(path, "_ivfpqr_meta.json"), {"k_factor": int(self.k_factor)})
        return self

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFPQRIndex":
        meta = fsio.read_json(spark, os.path.join(path, "_ivfpqr_meta.json"))
        rp = os.path.join(path, "_ivfpqr_refine_codebooks.npy")
        refine = (
            ProductQuantizerModel(codebooks=fsio.read_npy(spark, rp))
            if fsio.exists(spark, rp)
            else None
        )
        return IVFPQRIndex(
            ivfpq=IVFPQIndex.load(spark, path),
            vectors=None,
            k_factor=meta["k_factor"],
            refine_pq=refine,
        )


@dataclass
class TwoLayerCodes:
    """Index2Layer (reference faiss/Index2Layer.h:29): IVFPQ-style codes
    stored FLAT — (id, list_no, code) without list partitioning — for
    random-access reconstruction (it exists in faiss to feed HNSW's
    storage). On Spark random access is a join on id, so the value here
    is the codec: reconstruct(id) = centroid[list_no] + pq_decode(code)."""

    centroids: np.ndarray
    pq: ProductQuantizerModel
    codes: DataFrame | None = None

    @staticmethod
    def from_ivfpq(idx: IVFPQIndex) -> "TwoLayerCodes":
        """Re-layout an IVFPQ index's codes flat (the reference builds
        Index2Layer from a trained IVFPQ the same way)."""
        return TwoLayerCodes(
            centroids=idx.centroids, pq=idx.pq,
            codes=idx.codes.select("id", "list_no", "code"),
        )

    def reconstruct(self, ids: list[int]) -> DataFrame:
        """Random-access decode: join on id, add back the cell centroid."""
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast((self.centroids, self.pq.codebooks))

        def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C, books = bc.value
            pqm = ProductQuantizerModel(codebooks=books)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.stack([np.frombuffer(c, np.uint8) for c in pdf["code"]])
                X = pqm.decode_np(codes) + C[pdf["list_no"].to_numpy(np.int64)]
                yield pd.DataFrame(
                    {
                        "id": pdf["id"].to_numpy(np.int64),
                        "vec": list(X.astype(np.float32)),
                    }
                )

        sel = self.codes.filter(F.col("id").isin(ids))
        return sel.mapInPandas(dec, schema="id bigint, vec array<float>")


class IVFSpectralHash:
    """IVF + per-list spectral-hash binary codes scanned with Hamming
    (reference IndexIVFSpectralHash, faiss/IndexIVFSpectralHash.h:31-86,
    faiss/IndexIVFSpectralHash.cpp:70-207). The trained pipeline:

      1. a linear transform ``vt`` maps d → nbit dims (random rotation by
         default, PCA optionally — the reference's replace_vt hook);
      2. per-list thresholds ``trained`` per threshold_type:
         'global' (c = 0), 'centroid' (vt(centroid)), 'centroid_half'
         (vt(centroid) − period/4), 'median' (per-list per-bit median of
         the transformed training sample);
      3. periodic binarization (cpp:146 binarize_with_freq):
         bit_j = int64(floor((x_j − c_j) · 2/period)) & 1.

    The query code is list-DEPENDENT (scanner.set_list re-binarizes the
    query against each probed list's thresholds, cpp:244-258), so the
    probe table carries one qcode per (query, probed list)."""

    def __init__(
        self,
        centroids: np.ndarray,
        A: np.ndarray,
        b: np.ndarray | None,
        trained: np.ndarray | None,
        period: float,
        threshold_type: str = "global",
    ):
        self.centroids = centroids
        self.A = A  # (nbit, d) vt matrix
        self.b = b  # (nbit,) vt bias or None
        self.trained = trained  # (nlist, nbit) thresholds or None (global)
        self.period = period
        self.threshold_type = threshold_type
        self.codes: DataFrame | None = None

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        nbit: int | None = None,
        period: float = 1.0,
        threshold_type: str = "global",
        transform: str = "rr",
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 10,
    ) -> "IVFSpectralHash":
        from faiss_spark.operators.codecs import _sampled_matrix
        from faiss_spark.operators.transforms import (
            PCAMatrix,
            random_rotation_matrix,
        )

        if threshold_type not in ("global", "centroid", "centroid_half", "median"):
            raise ValueError(f"unknown threshold_type {threshold_type!r}")
        km = KMeans(k=nlist, niter=niter, seed=seed).fit(vectors, vec_col=vec_col)
        d = km.centroids.shape[1]
        nbit = nbit if nbit is not None else d
        if transform == "pca":
            m = PCAMatrix(d_out=nbit, seed=seed).fit(vectors, vec_col=vec_col)
            A, b = m.A, m.b
        elif transform == "pcar":
            m = PCAMatrix(d_out=nbit, random_rotation=True, seed=seed).fit(
                vectors, vec_col=vec_col
            )
            A, b = m.A, m.b
        elif transform == "itq":
            # reference parse '(ITQ|PCA|PCAR)<d'>,SH...' replace_vt with
            # ITQTransform(d, outdim, do_pca = d != outdim)
            # (index_factory.cpp:398-404): PCA to nbit when reducing,
            # then the ITQ sign-procrustes rotation — composed here on
            # the same driver sample the standalone estimators use
            X = _sampled_matrix(vectors, vec_col, 65536, seed)
            A0, b0, Xp = None, None, X
            if nbit != d:
                mu = X.mean(0)
                _, _, Vt = np.linalg.svd(X - mu, full_matrices=False)
                A0, b0 = Vt[:nbit], -(Vt[:nbit] @ mu)
                Xp = (X - mu) @ A0.T
            Xp = Xp - Xp.mean(0)
            R = random_rotation_matrix(Xp.shape[1], seed)
            for _ in range(50):
                B = np.sign(Xp @ R)
                B[B == 0] = 1.0
                U2, _, V2 = np.linalg.svd(Xp.T @ B, full_matrices=False)
                R = U2 @ V2
            A = R.T @ A0 if A0 is not None else R.T
            b = (R.T @ b0) if b0 is not None else None
        else:  # seeded random rotation, the reference default (cpp:36-39)
            if nbit > d:
                raise ValueError(f"nbit={nbit} > d={d} needs transform='pca'")
            A, b = random_rotation_matrix(d, seed)[:nbit], None
        trained = None
        if threshold_type in ("centroid", "centroid_half"):
            trained = km.centroids @ A.T
            if b is not None:
                trained = trained + b
            if threshold_type == "centroid_half":
                trained = trained - 0.25 * period
        elif threshold_type == "median":
            X = _sampled_matrix(vectors, vec_col, 65536, seed)
            d2 = (
                (X * X).sum(1)[:, None]
                + (km.centroids * km.centroids).sum(1)[None, :]
                - 2.0 * (X @ km.centroids.T)
            )
            lists = d2.argmin(1)
            Xt = X @ A.T + (b if b is not None else 0.0)
            trained = np.zeros((nlist, nbit))
            for lno in range(nlist):
                sel = Xt[lists == lno]
                if len(sel):
                    trained[lno] = np.median(sel, axis=0)
        return IVFSpectralHash(
            centroids=km.centroids, A=A, b=b, trained=trained,
            period=period, threshold_type=threshold_type,
        )

    def _binarize(self, Xt: np.ndarray, lists: np.ndarray) -> np.ndarray:
        """binarize_with_freq over transformed rows with each row's list
        thresholds (cpp:146-158)."""
        c = 0.0 if self.trained is None else self.trained[lists]
        freq = 2.0 / self.period
        return (np.floor((Xt - c) * freq).astype(np.int64)) & 1

    def add(self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"):
        from faiss_spark.operators.binary import _bits_to_words

        spark = vectors.sparkSession
        bc = spark.sparkContext.broadcast(self)

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            idx = bc.value
            C = idx.centroids
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = as_matrix(pdf["vec"])
                d2 = (
                    (X * X).sum(1)[:, None]
                    + (C * C).sum(1)[None, :]
                    - 2.0 * (X @ C.T)
                )
                lists = d2.argmin(1)
                Xt = X @ idx.A.T + (idx.b if idx.b is not None else 0.0)
                words = _bits_to_words(idx._binarize(Xt, lists))
                yield pd.DataFrame(
                    {
                        "list_no": lists.astype(np.int32),
                        "id": pdf["id"].to_numpy(np.int64),
                        "code": list(words),
                    }
                )

        src = vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        self.codes = src.mapInPandas(
            enc, schema="list_no int, id bigint, code array<bigint>"
        )
        return self

    def save(self, path: str) -> None:
        """Persist codes (partitioned by list) + model artifacts."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        self.codes.repartition("list_no").write.mode("overwrite").partitionBy(
            "list_no"
        ).parquet(path)
        fsio.write_npy(spark, os.path.join(path, "_sh_centroids.npy"), self.centroids)
        fsio.write_npy(spark, os.path.join(path, "_sh_A.npy"), self.A)
        if self.b is not None:
            fsio.write_npy(spark, os.path.join(path, "_sh_b.npy"), self.b)
        if self.trained is not None:
            fsio.write_npy(spark, os.path.join(path, "_sh_trained.npy"), self.trained)
        fsio.write_json(spark, os.path.join(path, "_sh_meta.json"), {"period": self.period, "threshold_type": self.threshold_type})

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFSpectralHash":
        meta = fsio.read_json(spark, os.path.join(path, "_sh_meta.json"))

        def opt(name):
            p = os.path.join(path, name)
            return fsio.read_npy(spark, p) if fsio.exists(spark, p) else None

        idx = IVFSpectralHash(
            centroids=fsio.read_npy(spark, os.path.join(path, "_sh_centroids.npy")),
            A=fsio.read_npy(spark, os.path.join(path, "_sh_A.npy")),
            b=opt("_sh_b.npy"),
            trained=opt("_sh_trained.npy"),
            period=meta["period"],
            threshold_type=meta["threshold_type"],
        )
        idx.codes = spark.read.parquet(path)
        return idx

    def search(
        self, queries: DataFrame, k: int, nprobe: int = 1,
        qid_col: str = "qid", qvec_col: str = "vec",
    ) -> DataFrame:
        """Coarse L2 probes + Hamming scan over binarized codes (JVM bit
        ops after the partition-pruned join). A query side past the
        driver bound auto-falls-back to ``sh_search_preassigned``,
        which builds the per-(query, probed-list) qcodes executor-side
        and joins without collecting."""
        from faiss_spark.operators.binary import _bits_to_words, hamming_expr

        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        collected = collect_queries_bounded(
            queries, qid_col, qvec_col, "IVFSpectralHash.search",
            d=self.centroids.shape[1],
            fallback=lambda: sh_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
            ),
        )
        if isinstance(collected, DataFrame):
            return collected
        qids, Q = collected
        CD = pairwise_distances(Q, self.centroids, "l2")
        nprobe_ = min(nprobe, len(self.centroids))
        order = np.argsort(CD, axis=1, kind="stable")[:, :nprobe_]
        probed = sorted({int(c) for c in order.ravel()})
        Qt = Q @ self.A.T + (self.b if self.b is not None else 0.0)
        # per-(query, probed list) code: the scanner re-binarizes the query
        # against each list's thresholds (cpp:244-258)
        flat_lists = order.ravel()
        qwords = _bits_to_words(
            self._binarize(np.repeat(Qt, nprobe_, axis=0), flat_lists)
        )
        probe_rows = [
            (
                int(qids[i]),
                [int(w) for w in qwords[i * nprobe_ + j]],
                int(order[i, j]),
            )
            for i in range(len(qids))
            for j in range(nprobe_)
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


def sh_search_preassigned(
    index: "IVFSpectralHash",
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Distributed big-batch twin of IVFSpectralHash.search: probe
    selection AND the per-(query, probed-list) periodic binarization
    (the scanner.set_list re-binarization, cpp:244-258) run
    executor-side over broadcast artifacts, emitting the same
    (qid, qcode, list_no) probe rows the driver path builds — then the
    identical partition-pruned Hamming join, with the probe side
    shuffled on list_no instead of broadcast (the query side is huge by
    assumption)."""
    from faiss_spark.operators.binary import _bits_to_words, hamming_expr

    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    spark = queries.sparkSession
    nprobe_ = min(nprobe, len(index.centroids))
    shell = IVFSpectralHash(
        centroids=index.centroids, A=index.A, b=index.b,
        trained=index.trained, period=index.period,
        threshold_type=index.threshold_type,
    )
    bc = spark.sparkContext.broadcast(shell)

    def assign(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        idx = bc.value
        C = idx.centroids
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = as_matrix(pdf["vec"])
            CD = (
                (Q * Q).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * (Q @ C.T)
            )
            order = np.argsort(CD, axis=1, kind="stable")[:, :nprobe_]
            Qt = Q @ idx.A.T + (idx.b if idx.b is not None else 0.0)
            qwords = _bits_to_words(
                idx._binarize(np.repeat(Qt, nprobe_, axis=0), order.ravel())
            )
            rep = np.repeat(np.arange(len(Q)), nprobe_)
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].to_numpy(np.int64)[rep],
                    "qcode": [
                        [int(w) for w in row] for row in qwords
                    ],
                    "list_no": order.astype(np.int32).ravel(),
                }
            )

    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"), F.col(qvec_col).alias("vec")
    )
    probes = q.mapInPandas(
        assign, schema="qid bigint, qcode array<bigint>, list_no int"
    ).localCheckpoint(eager=False)
    pruned = index.codes.join(
        probes.select("list_no").distinct().hint("broadcast"),
        "list_no",
        "left_semi",
    )
    joined = pruned.join(probes, "list_no").select(
        "qid",
        "id",
        hamming_expr(F.col("code"), F.col("qcode")).cast("double").alias("dist"),
    )
    return _window_topk(joined, k, largest=False)


@dataclass
class IVFAQIndex(_CoarseQuantized):
    """IVF + additive-quantizer (residual-quantizer) codes on residuals —
    the reference IndexIVFAdditiveQuantizer family
    (faiss/IndexIVFAdditiveQuantizer.h:26,64 — IVFRQ is the default
    variant; by_residual=true default there too).

    Layout is the standard partitioned-table pattern: codes table
    (list_no, id, code BINARY) where code = RQ beam-search encoding of
    x − centroid[list_no]. Search is asymmetric: the per-list scan
    gather-sums the M codebook rows (AdditiveQuantizer decode,
    faiss/impl/AdditiveQuantizer.h:25), re-adds the list centroid, and
    GEMMs against the exact queries — same plan shape (partition-pruned
    scan + one candidate merge) as IVFSQIndex, so the 100 TB posture is
    identical. Encode, scan and reconstruct are Arrow-native
    (mapInArrow + the shared zero-copy group helpers), like the other
    IVF families."""

    centroids: np.ndarray | None  # (nlist, d); None under an additive coarse
    # the additive codec — ResidualQuantizerModel (beam encode) or
    # LocalSearchQuantizerModel (ICM encode); both share the
    # encode_np/decode gather-sum surface the scan rides
    rq: object
    metric: str = "l2"
    codes: DataFrame | None = None
    path: str | None = None
    # '_N*' stored-norm search type (reference AdditiveQuantizer
    # search_type): None = ST_decompress (exact decoded distances);
    # "none" = ST_LUT_nonorm; else an AQNormQuantizer kind — the scan
    # then ranks by ‖q‖² − 2⟨q,x̂⟩ + N(‖x̂‖²)
    search_type: str | None = None
    norm_q: object | None = None
    # additive coarse quantizer (reference IVF<n>(RCQ<M>x<b>),RQ<spec> —
    # its own tests/test_residual_quantizer.py:586): a fitted
    # ResidualCoarseQuantizerModel replaces the k-means centroids;
    # residuals are against its VIRTUAL centroids (beam reconstruct)
    coarse_q: object | None = None

    @staticmethod
    def train(
        vectors: DataFrame,
        nlist: int,
        M: int = 8,
        beam: int = 4,
        metric: str = "l2",
        vec_col: str = "vec",
        seed: int = 1234,
        niter: int = 20,
        rq_niter: int = 15,
        nbits: int | list = 8,
        lsq: bool = False,
        search_type: str | None = None,
        coarse_q: object | None = None,
    ) -> "IVFAQIndex":
        """train_q1 (coarse k-means, or a caller-fitted additive coarse)
        then RQ (greedy residual k-means) or LSQ (ICM + least-squares,
        ``lsq=True``) codebooks on residuals of the training sample
        (reference IndexIVFAdditiveQuantizer::train_residual;
        IVF<n>,LSQ<M>x<b> → IndexIVFLocalSearchQuantizer,
        index_factory.cpp:336-350)."""
        from faiss_spark.operators.codecs import (
            AQNormQuantizer,
            LocalSearchQuantizer,
            ResidualQuantizerModel,
            _kmeans_np,
            _normalize_nbits,
            _padded_books,
            _sampled_matrix,
        )

        if coarse_q is not None:
            if metric != "l2":
                raise ValueError(
                    "additive coarse quantizers rank by squared L2, "
                    f"got metric={metric!r}"
                )
            if coarse_q.nlist != nlist:
                raise ValueError(
                    f"coarse_q spans {coarse_q.nlist} virtual cells, "
                    f"expected nlist={nlist}"
                )
            C = None
            X = _sampled_matrix(vectors, vec_col, 65536, seed)
            assign = coarse_q.assign_np(X)
            resid = X - coarse_q.reconstruct_np(assign)
        else:
            km = KMeans(
                k=nlist, niter=niter, seed=seed, spherical=(metric == "cosine")
            ).fit(vectors, vec_col=vec_col)
            C = km.centroids
            X = _sampled_matrix(vectors, vec_col, 65536, seed)
            d2 = (
                (X * X).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (X @ C.T)
            )
            assign = d2.argmin(1)
            resid = X - C[assign]
        bits = _normalize_nbits(nbits, M)
        if lsq:
            if len(set(bits)) != 1:
                raise ValueError("LSQ takes one uniform bit width")
            codec = LocalSearchQuantizer(
                M=M, nbits=bits[0], niter_init=rq_niter, seed=seed
            ).fit_np(resid)
        else:
            books = []
            r = resid.copy()
            for m in range(M):
                ksub = min(1 << bits[m], len(resid))
                Cb, labels = _kmeans_np(r, ksub, rq_niter, seed + m)
                books.append(Cb)
                r = r - Cb[labels]
            codec = ResidualQuantizerModel(
                codebooks=_padded_books(books, X.shape[1]), beam=beam
            )
        norm_q = None
        if search_type not in (None, "none"):
            # reconstruction norms INCLUDE the centroid (the estimator's
            # ‖x̂‖² term is of the full reconstruction)
            base = (
                coarse_q.reconstruct_np(assign)
                if coarse_q is not None
                else C[assign]
            )
            Xh = base + codec.decode_np(codec.encode_np(resid))
            norm_q = AQNormQuantizer(search_type).fit_np((Xh * Xh).sum(1))
        return IVFAQIndex(
            centroids=C,
            rq=codec,
            metric=metric,
            search_type=search_type,
            norm_q=norm_q,
            coarse_q=coarse_q,
        )

    def add(
        self,
        vectors: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        path: str | None = None,
    ) -> "IVFAQIndex":
        return _store_codes(
            self, self._encode_df(vectors, id_col=id_col, vec_col=vec_col), path
        )

    def _encode_df(
        self, vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
    ) -> DataFrame:
        """Frozen-artifact encode to (list_no, id, code) rows — map-only,
        shared by add() and the streaming incremental writer."""

        def encode(state, X):
            # the codec model travels whole: beam encode for RQ, ICM for
            # LSQ — _encode_df must use the codec's OWN encoder
            C, cq, rqm, metric = state
            lists = _coarse_assign(X, C, cq, metric)
            # additive coarse: residual against the VIRTUAL centroid
            # (reconstruct of the assigned cell)
            base = cq.reconstruct_np(lists) if cq is not None else C[lists]
            return lists, rqm.encode_np(X - base)

        state = (self.centroids, self.coarse_q, self.rq, self.metric)
        return _encode_lists(vectors, id_col, vec_col, state, encode)

    def _save_artifact(self, spark, path: str) -> None:
        if self.coarse_q is not None:
            fsio.write_npy(
                spark,
                os.path.join(path, "_ivfaq_rcq_codebooks.npy"),
                self.coarse_q.codebooks,
            )
        else:
            fsio.write_npy(
                spark, os.path.join(path, "_ivfaq_centroids.npy"), self.centroids
            )
        fsio.write_npy(spark, os.path.join(path, "_ivfaq_codebooks.npy"), self.rq.codebooks)
        meta = {
            "metric": self.metric,
            "beam": int(getattr(self.rq, "beam", 4)),
            "codec": (
                "lsq" if type(self.rq).__name__ == "LocalSearchQuantizerModel"
                else "rq"
            ),
            "search_type": self.search_type,
        }
        if self.coarse_q is not None:
            meta["coarse"] = {
                "beam_factor": self.coarse_q.beam_factor,
                "nbits_list": (
                    list(self.coarse_q.nbits_list)
                    if self.coarse_q.nbits_list is not None
                    else None
                ),
            }
        if self.norm_q is not None:
            meta["norm"] = {
                "kind": self.norm_q.kind,
                "min": self.norm_q.norm_min,
                "max": self.norm_q.norm_max,
            }
            if self.norm_q.codebook is not None:
                fsio.write_npy(
                    spark,
                    os.path.join(path, "_ivfaq_norm_codebook.npy"),
                    self.norm_q.codebook,
                )
        fsio.write_json(spark, os.path.join(path, "_ivfaq_meta.json"), meta)

    def save(self, path: str) -> "IVFAQIndex":
        """write_index: partitioned RQ codes + centroid/codebook artifacts."""
        return _store_codes(self, self.codes, path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFAQIndex":
        from faiss_spark.operators.codecs import (
            AQNormQuantizer,
            LocalSearchQuantizerModel,
            ResidualQuantizerModel,
        )

        meta = fsio.read_json(spark, os.path.join(path, "_ivfaq_meta.json"))
        books = fsio.read_npy(spark, os.path.join(path, "_ivfaq_codebooks.npy"))
        if meta.get("codec") == "lsq":
            codec = LocalSearchQuantizerModel(codebooks=books)
        else:
            codec = ResidualQuantizerModel(codebooks=books, beam=meta["beam"])
        norm_q = None
        if meta.get("norm"):
            norm_q = AQNormQuantizer(meta["norm"]["kind"])
            norm_q.norm_min = meta["norm"]["min"]
            norm_q.norm_max = meta["norm"]["max"]
            if norm_q.kind not in ("float", "qint8", "qint4"):
                norm_q.codebook = fsio.read_npy(
                    spark, os.path.join(path, "_ivfaq_norm_codebook.npy")
                )
        coarse_q = None
        centroids = None
        if meta.get("coarse"):
            from faiss_spark.operators.codecs import ResidualCoarseQuantizerModel

            cm = meta["coarse"]
            coarse_q = ResidualCoarseQuantizerModel(
                codebooks=fsio.read_npy(
                    spark, os.path.join(path, "_ivfaq_rcq_codebooks.npy")
                ),
                beam_factor=cm["beam_factor"],
                nbits_list=(
                    tuple(cm["nbits_list"]) if cm["nbits_list"] else None
                ),
            )
        else:
            centroids = fsio.read_npy(
                spark, os.path.join(path, "_ivfaq_centroids.npy")
            )
        return IVFAQIndex(
            centroids=centroids,
            coarse_q=coarse_q,
            rq=codec,
            metric=meta["metric"],
            search_type=meta.get("search_type"),
            norm_q=norm_q,
            codes=spark.read.parquet(path),
            path=path,
        )

    def reconstruct(self, ids: DataFrame | None = None) -> DataFrame:
        """Decode stored codes back to approximate vectors:
        centroid[list_no] + Σ codebook[m][code[m]] (sa_decode)."""
        if self.codes is None:
            raise ValueError("index has no codes table; call add() first")
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast(
            (self.centroids, self.coarse_q, self.rq.codebooks)
        )

        def dec(batches):
            import pyarrow as pa

            from faiss_spark.kernels import arrow_binary_matrix

            C, cq, books = bc.value
            for b in batches:
                if b.num_rows == 0:
                    continue
                lists = np.asarray(
                    b.column(0).to_numpy(zero_copy_only=False), np.int64
                )
                ids_ = np.asarray(
                    b.column(1).to_numpy(zero_copy_only=False), np.int64
                )
                codes = _pq_code_view(
                    arrow_binary_matrix(b.column(2)), books.shape[0]
                )
                X = (
                    cq.reconstruct_np(lists)
                    if cq is not None
                    else C[lists].astype(np.float64)
                )
                for m in range(books.shape[0]):
                    X += books[m][codes[:, m]]
                Xf = np.ascontiguousarray(X, np.float32)
                n, d = Xf.shape
                vec = pa.ListArray.from_arrays(
                    pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
                    pa.array(Xf.ravel()),
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids_, pa.int64()), vec], names=["id", "vec"]
                )

        src = self.codes
        if ids is not None:
            src = src.join(ids.select("id"), "id", "left_semi")
        return src.select("list_no", "id", "code").mapInArrow(
            dec, schema="id bigint, vec array<float>"
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        nprobe: int = 1,
        qid_col: str = "qid",
        qvec_col: str = "vec",
    ) -> DataFrame:
        """Same partition-pruned plan as IVFSQIndex.search; the scan
        decodes AQ codes (gather-sum + centroid) before the GEMM. Under
        an additive coarse, probe selection is the RCQ beam and the
        per-list base vector is the virtual centroid's reconstruction."""
        return _scan_probed_lists(
            self, queries, _probe_planner(self, nprobe), _AQScanner(self),
            "IVFAQIndex.search", qid_col, qvec_col, k=k,
            fallback=lambda: aq_search_preassigned(
                self, queries, k, nprobe=nprobe,
                qid_col=qid_col, qvec_col=qvec_col,
            ),
        )
