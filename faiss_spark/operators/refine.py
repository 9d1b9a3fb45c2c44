"""Composite search refinements — SURVEY §2.B IndexRefine / IndexFlat1D /
IndexIVFFlatDedup.

- refine_search: first index proposes k·k_factor candidates, exact
  re-rank on raw vectors trims to k (reference IndexRefine,
  faiss/IndexRefine.h:17-69; RFlat in the factory DSL).
- knn_1d: the 1-D special case (reference IndexFlat1D,
  faiss/IndexFlat.h:89-112 — sorted permutation + binary search; on
  Spark the engine's sort-merge/range machinery already is that
  structure, so the declaration is a plain |x − q| top-k).
- dedup_flat: store each distinct vector once with its id list
  (reference IndexIVFFlatDedup, faiss/IndexIVFFlat.h:56-60 — the
  `instances` multimap); search the dedup'd table and explode ids back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.operators.ivf import _window_topk
from faiss_spark.operators.knn import distance_expr, knn


def refine_search(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    id_col: str = "id",
    vec_col: str = "vec",
    qid_col: str = "qid",
    qvec_col: str = "vec",
) -> DataFrame:
    """Exact re-rank of an ANN candidate table (qid, id[, ...]) down to
    top-k: join raw vectors + query vectors, JVM distance expression,
    window top-k. Only candidate rows are ever scored — the refine stage
    costs O(|candidates|), not O(n·nq)."""
    v = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("__v")
    )
    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"), F.col(qvec_col).alias("__q")
    )
    largest = metric in ("ip", "cosine")
    scored = (
        candidates.select("qid", "id")
        .join(v, "id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "id",
            distance_expr(F.col("__q"), F.col("__v"), metric).alias("dist"),
        )
    )
    return _window_topk(scored, k, largest)


def knn_1d(
    values: DataFrame,
    queries: DataFrame,
    k: int,
    val_col: str = "x",
    id_col: str = "id",
    qval_col: str = "qx",
    qid_col: str = "qid",
) -> DataFrame:
    """1-D k-NN: |x − q| top-k (reference IndexFlat1D). Pure SQL: the
    broadcast query side keeps this one codegen'd scan + the small
    window merge; dist is the absolute difference (not squared, matching
    IndexFlat1D's convention)."""
    v = values.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(val_col).cast("double").alias("x"),
    )
    q = queries.select(
        F.col(qid_col).cast("bigint").alias("qid"),
        F.col(qval_col).cast("double").alias("qx"),
    )
    joined = v.crossJoin(F.broadcast(q)).select(
        "qid", "id", F.abs(F.col("x") - F.col("qx")).alias("dist")
    )
    return _window_topk(joined, k, largest=False)


def dedup_flat(
    vectors: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """Vector-level dedup table: one row per distinct vector with
    (vec, rep_id, ids, n_dup) — rep_id = min id (the stored entry),
    ids = every id sharing the vector (the `instances` multimap).
    groupBy on the vector value itself: one shuffle, map-side partial."""
    return (
        vectors.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
        )
        .groupBy("vec")
        .agg(
            F.min("id").alias("rep_id"),
            F.sort_array(F.collect_list("id")).alias("ids"),
            F.count("*").alias("n_dup"),
        )
    )


def dedup_flat_search(
    dedup_table: DataFrame, queries: DataFrame, k: int, metric: str = "l2",
) -> DataFrame:
    """Search the dedup'd table then explode the id lists back — result
    ids are all duplicates of matched vectors (IndexIVFFlatDedup search
    semantics: duplicated ids materialize at result time). Each query
    returns ≥ k rows when duplicates exist."""
    base = knn(
        dedup_table.select(F.col("rep_id").alias("id"), "vec"),
        queries,
        k,
        metric=metric,
    )
    ids = dedup_table.select(F.col("rep_id").alias("id"), "ids")
    return (
        base.join(ids, "id")
        .select("qid", F.explode("ids").alias("id"), "dist", "rank")
    )
