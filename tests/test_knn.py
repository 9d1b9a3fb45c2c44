"""Brute-force knn / range_search vs DuckDB oracle (the IndexFlat tests,
reference tests/test_index.py pattern: exact path vs brute force)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.knn import distance_expr, knn, knn_join, range_search
from tests.conftest import duck_set, rows_set

K = 5
NQ = 20


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter(F.col("id") < NQ).select(
        F.col("id").alias("qid"), F.col("vec")
    )


def _oracle_knn(metric_expr, order, k=K, nq=NQ):
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {nq}),
        d AS (
          SELECT q.qid, e.vec_id AS id, {metric_expr} AS dist
          FROM q CROSS JOIN embeddings e
        ),
        r AS (SELECT qid, id, dist,
                     row_number() OVER (PARTITION BY qid ORDER BY dist {order}, id) AS rank
              FROM d)
        SELECT qid, id, round(dist, 6) AS dist, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= {k}
    """


L2_EXPR = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (CAST(q.qv[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)) ** 2))"
)
IP_EXPR = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))"
)


def test_knn_l2_matches_oracle(vectors, queries, oracle):
    got = knn(vectors, queries, K, metric="l2").withColumn(
        "dist", F.round("dist", 6)
    )
    expect = duck_set(oracle, _oracle_knn(L2_EXPR, "ASC"))
    assert rows_set(got) == expect


def test_knn_ip_matches_oracle(vectors, queries, oracle):
    got = knn(vectors, queries, K, metric="ip").withColumn("dist", F.round("dist", 6))
    expect = duck_set(oracle, _oracle_knn(IP_EXPR, "DESC"))
    assert rows_set(got) == expect


def test_knn_cosine_self_top1_is_self(vectors, queries):
    got = knn(vectors, queries, 1, metric="cosine").collect()
    assert all(r["qid"] == r["id"] for r in got)
    assert all(abs(r["dist"] - 1.0) < 1e-9 for r in got)


def test_range_search_matches_oracle(vectors, queries, oracle):
    radius = 5.0
    got = range_search(vectors, queries, radius, metric="l2").withColumn(
        "dist", F.round("dist", 6)
    )
    expect = duck_set(
        oracle,
        f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {NQ}),
        d AS (SELECT q.qid, e.vec_id AS id, {L2_EXPR} AS dist
              FROM q CROSS JOIN embeddings e)
        SELECT qid, id, round(dist, 6) AS dist FROM d WHERE dist < {radius}
        """,
    )
    assert rows_set(got) == expect


def test_knn_join_excludes_self(vectors):
    got = knn_join(vectors.filter(F.col("id") < 50), 3, metric="l2")
    rows = got.collect()
    assert all(r["qid"] != r["id"] for r in rows)
    # every vector gets exactly 3 neighbors
    from collections import Counter

    counts = Counter(r["qid"] for r in rows)
    assert set(counts.values()) == {3}


def test_distance_expr_matches_numpy(spark):
    a = [1.0, 2.0, 3.0]
    b = [4.0, 6.0, 8.0]
    df = spark.createDataFrame(
        [(a, b)], "a array<float>, b array<float>"
    ).select(
        distance_expr(F.col("a"), F.col("b"), "l2").alias("l2"),
        distance_expr(F.col("a"), F.col("b"), "ip").alias("ip"),
        distance_expr(F.col("a"), F.col("b"), "cosine").alias("cos"),
        distance_expr(F.col("a"), F.col("b"), "l1").alias("l1"),
        distance_expr(F.col("a"), F.col("b"), "linf").alias("linf"),
    )
    r = df.collect()[0]
    an, bn = np.array(a), np.array(b)
    assert r["l2"] == pytest.approx(((an - bn) ** 2).sum())
    assert r["ip"] == pytest.approx(an @ bn)
    assert r["cos"] == pytest.approx(
        an @ bn / (np.linalg.norm(an) * np.linalg.norm(bn))
    )
    assert r["l1"] == pytest.approx(np.abs(an - bn).sum())
    assert r["linf"] == pytest.approx(np.abs(an - bn).max())


def test_knn_f32_matches_f64_neighbors(vectors, queries):
    """The f32 compute path (sgemm mirror) must return the same neighbor
    SETS as f64 on well-separated data — only the distance values may
    differ in low-order bits."""
    f64 = {(r["qid"], r["id"]) for r in knn(vectors, queries, 5).collect()}
    f32 = {
        (r["qid"], r["id"])
        for r in knn(vectors, queries, 5, dtype="f32").collect()
    }
    assert f32 == f64


def test_lp_expr_matches_numpy(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, 6.0, 8.0]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>").select(
        distance_expr(F.col("a"), F.col("b"), "lp", metric_arg=3.0).alias("lp3")
    )
    an, bn = np.array(a), np.array(b)
    assert df.collect()[0]["lp3"] == pytest.approx((np.abs(an - bn) ** 3).sum())


def test_brute_force_query_collect_is_bounded(vectors, queries, monkeypatch):
    """VERDICT r7 #5: the brute-force broadcast-queries contract gets the
    same one-job budget + actionable error as the IVF family (knn was an
    unbounded toPandas; a million-query frame OOM'd the driver instead of
    telling the user to chunk)."""
    import faiss_spark.operators.ivf as ivfmod

    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 64)  # 1 row at d=64
    with pytest.raises(ValueError, match="knn.*exceeds the driver-planned"):
        knn(vectors, queries, K)
    with pytest.raises(ValueError, match="exceeds the driver-planned"):
        range_search(vectors, queries, radius=1.0)
    # within budget: unchanged behavior
    monkeypatch.setattr(ivfmod, "MAX_DRIVER_QUERY_CELLS", 32_000_000)
    assert knn(vectors, queries, K).count() == NQ * K


@pytest.mark.parametrize("case", ["short_queries", "ragged_corpus"])
@pytest.mark.parametrize("op", ["knn", "range_search"])
def test_wrong_dimension_fails_with_message(spark, op, case):
    """A corpus vector whose length differs from the queries' d fails the
    job with a message naming both dimensions, raised by the JVM-side size
    guard before any Python worker reshapes the batch — never a worker
    IndexError, and never silently shifted rows."""
    from pyspark.errors import PythonException

    if case == "short_queries":
        corpus = spark.createDataFrame(
            [(i, [float(i)] * 8) for i in range(8)], "id bigint, vec array<double>"
        )
        qs = spark.createDataFrame([(0, [0.1] * 5)], "qid bigint, vec array<double>")
        msg = "8 components but the queries have d=5"
    else:
        # an 8-d corpus whose one Arrow batch also holds a 7-d and a 9-d row
        rows = [(i, [float(i)] * 8) for i in range(6)]
        rows += [(6, [1.0] * 7), (7, [2.0] * 9)]
        corpus = spark.createDataFrame(
            rows, "id bigint, vec array<double>"
        ).coalesce(1)
        qs = spark.createDataFrame([(0, [1.0] * 8)], "qid bigint, vec array<double>")
        msg = "[79] components but the queries have d=8"
    with pytest.raises(Exception, match=msg) as ei:
        if op == "knn":
            knn(corpus, qs, 3).collect()
        else:
            range_search(corpus, qs, radius=1e9).collect()
    assert not isinstance(ei.value, PythonException)


def test_knn_k_above_corpus_size_returns_every_row_unpadded(spark):
    """The documented no-padding contract: k > ntotal returns ntotal rows
    per query, ranked 1..ntotal, with no faiss-style -1 pad rows."""
    rng = np.random.default_rng(0)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(4).tolist()) for i in range(20)],
        "id bigint, vec array<double>",
    )
    qs = spark.createDataFrame(
        [(q, rng.standard_normal(4).tolist()) for q in range(3)],
        "qid bigint, vec array<double>",
    )
    rows = knn(corpus, qs, 50).collect()
    assert len(rows) == 3 * 20
    for q in range(3):
        got = [r for r in rows if r["qid"] == q]
        assert sorted(r["rank"] for r in got) == list(range(1, 21))
        assert sorted(r["id"] for r in got) == list(range(20))
