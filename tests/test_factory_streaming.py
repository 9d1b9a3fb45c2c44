"""Factory DSL parse/build/search + streaming incremental add."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from faiss_spark.operators.ivf import IVFIndex
from faiss_spark.operators.knn import knn
from faiss_spark.plans.factory import index_factory, reverse_index_factory
from faiss_spark.streaming.incremental import incremental_add_stream


@pytest.fixture(scope="module")
def vectors(tables):
    return tables["embeddings"].select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


@pytest.fixture(scope="module")
def queries(vectors):
    return vectors.filter("id < 10").select(F.col("id").alias("qid"), "vec")


def test_factory_parse_roundtrip():
    for s in ["Flat", "PCA16,Flat", "IVF64,PQ8", "L2norm,IVF16,Flat",
              "PQ8", "SQ8", "OPQ8,IVF32,PQ8", "Pad80,Flat"]:
        plan = index_factory(s)
        assert reverse_index_factory(plan) == s


def test_factory_fastscan_tokens():
    """PQ<M>x4fs[_<bbs>] fast-scan grammar (reference index_factory.cpp
    fast-scan suffix) parses, round-trips, and forces 4-bit codes."""
    for s in ["PQ16x4fs", "IVF16,PQ16x4fs", "PQ8x4fs_64", "IVF8,PQ8x4fs_64",
              "RQ16x4fs", "RQ8x4fs_64", "IVF8,RQ16x4fs"]:
        plan = index_factory(s)
        assert plan.fastscan
        if "PQ" in s:
            assert plan.pq_nbits == 4
        assert reverse_index_factory(plan) == s
    assert index_factory("PQ8x4fs_64").bbs == 64


def test_factory_fastscan_end_to_end(vectors, queries):
    plan = index_factory("IVF8,PQ16x4fs").fit(vectors)
    rows = plan.search(queries, 5, nprobe=8).collect()
    from collections import Counter

    assert set(Counter(r["qid"] for r in rows).values()) == {5}
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 5).collect()}
    got = {(r["qid"], r["id"]) for r in rows}
    assert len(got & truth) / len(truth) >= 0.4


def test_factory_nsg_token(vectors, queries):
    """NSG<R>[,Flat] (reference index_factory.cpp NSG grammar) builds the
    sharded batch graph and searches end-to-end."""
    for s in ["NSG32", "NSG16"]:
        plan = index_factory(s)
        assert plan.index_type == "nsg"
        assert reverse_index_factory(plan) == s
    assert index_factory("NSG32,Flat").nsg_r == 32
    plan = index_factory("NSG16").fit(vectors)
    rows = plan.search(queries, 5).collect()
    top1 = {r["qid"]: r["id"] for r in rows if r["rank"] == 1}
    assert all(top1[q] == q for q in top1)


def test_factory_rejects_garbage():
    with pytest.raises(ValueError):
        index_factory("HNSW32")  # graph index: deliberately out of scope
    with pytest.raises(ValueError):
        index_factory("PCA16")  # no index stage
    with pytest.raises(ValueError):
        index_factory("IVF16")  # missing code stage


def test_factory_flat_equals_knn(vectors, queries):
    plan = index_factory("Flat").fit(vectors)
    got = {(r["qid"], r["rank"], r["id"]) for r in plan.search(queries, 5).collect()}
    expect = {
        (r["qid"], r["rank"], r["id"]) for r in knn(vectors, queries, 5).collect()
    }
    assert got == expect


def test_factory_pca_ivfflat_end_to_end(vectors, queries):
    plan = index_factory("PCA16,IVF8,Flat").fit(vectors)
    res = plan.search(queries, 5, nprobe=8)
    rows = res.collect()
    from collections import Counter

    assert set(Counter(r["qid"] for r in rows).values()) == {5}
    # the synthetic embeddings are near-isotropic, so PCA 64→16 keeps only
    # ~25% of variance — neighborhood recall is weak by construction; the
    # end-to-end checks that matter: every query finds itself at rank 1
    # (distance-0 in any subspace) and recall is clearly above random
    top1 = {r["qid"]: r["id"] for r in rows if r["rank"] == 1}
    assert all(top1[q] == q for q in top1)
    truth = {(r["qid"], r["id"]) for r in knn(vectors, queries, 5).collect()}
    got = {(r["qid"], r["id"]) for r in rows}
    assert len(got & truth) / len(truth) >= 0.15  # random would be ~0.01


def test_streaming_incremental_add(vectors, spark, tmp_path):
    path = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")
    stream_dir = str(tmp_path / "incoming")
    import os

    os.makedirs(stream_dir)

    base = vectors.filter("id < 400")
    extra = vectors.filter("id >= 400")
    idx = IVFIndex.train(base, nlist=8, seed=42, niter=5).add(base, path=path)

    # stage new vectors as parquet files, stream them in
    extra.write.mode("overwrite").parquet(stream_dir)
    stream = spark.readStream.schema(extra.schema).parquet(stream_dir)
    q = incremental_add_stream(idx, stream, path=path, checkpoint=ckpt)
    q.awaitTermination(120)

    merged = spark.read.parquet(path)
    idx.codes = merged
    assert merged.count() == vectors.count()
    # a query vector from the appended set now finds itself (exact, full probe)
    probe = vectors.filter("id = 450").select(F.col("id").alias("qid"), "vec")
    top1 = idx.search(probe, k=1, nprobe=8).collect()[0]
    assert top1["id"] == 450 and top1["dist"] == pytest.approx(0.0, abs=1e-9)


def test_update_vectors_in_place(vectors, spark, tmp_path):
    """update_vectors (reference faiss/IndexIVF.h:269): search after an
    update returns the NEW vectors; only affected partitions rewritten."""
    import numpy as np

    from faiss_spark.streaming.incremental import update_vectors

    path = str(tmp_path / "codes_upd")
    idx = IVFIndex.train(vectors, nlist=8, seed=42, niter=5).add(vectors, path=path)
    # move ids 7 and 11 onto the exact position of id 499's vector
    target = vectors.filter("id = 499").first()["vec"]
    upd = spark.createDataFrame(
        [(7, list(target)), (11, list(target))], "id bigint, vec array<float>"
    )
    update_vectors(idx, upd, path=path)
    assert idx.codes.count() == vectors.count()  # replaced, not duplicated
    q = spark.createDataFrame([(0, list(target))], "qid bigint, vec array<float>")
    top3 = {r["id"] for r in idx.search(q, k=3, nprobe=8).collect()}
    assert top3 == {7, 11, 499}  # the updated ids are now exact matches


def test_sliding_window_drop_is_directory_level(vectors, spark, tmp_path):
    """Sliding-window retention (reference tests/test_sliding_ivf.cpp):
    windowed batches land in (list_no, batch_no) partitions; dropping the
    oldest window removes directories without touching newer rows."""
    from faiss_spark.streaming.incremental import add_windowed, drop_window_before

    path = str(tmp_path / "codes_win")
    idx = IVFIndex.train(vectors, nlist=4, seed=42, niter=5)
    for b, lo, hi in ((0, 0, 100), (1, 100, 200), (2, 200, 300)):
        add_windowed(idx, vectors.filter(f"id >= {lo} and id < {hi}"), path, b)
    assert spark.read.parquet(path).count() == 300
    dropped = drop_window_before(spark, path, min_batch=1)
    assert dropped > 0
    left = spark.read.parquet(path)
    assert left.count() == 200
    assert left.agg(F.min("id")).first()[0] >= 100
    # the table still searches (old window gone, new windows intact)
    idx.codes = left.select("list_no", "id", "vec")
    probe = vectors.filter("id = 250").select(F.col("id").alias("qid"), "vec")
    assert idx.search(probe, k=1, nprobe=4).collect()[0]["id"] == 250


def test_factory_ivfsq_ivfrq_rflat_roundtrip(vectors):
    """New grammar arms parse, reverse, and search with high full-probe
    recall (IVFSQ exact-candidate; IVFRQ refined by RFlat is exact@k on
    the surviving candidates)."""
    from faiss_spark.operators.knn import knn
    from faiss_spark.plans.factory import index_factory, reverse_index_factory

    q = vectors.filter("id < 10").select(F.col("id").alias("qid"), "vec")
    truth = {(r["qid"], r["id"]) for r in knn(vectors, q, 5).collect()}

    for desc, min_recall in [("IVF8,SQ8", 0.9), ("IVF8,RQ8,RFlat", 0.9), ("RQ8", 0.8)]:
        plan = index_factory(desc)
        assert reverse_index_factory(plan) == desc
        plan.fit(vectors, seed=42)
        got = {(r["qid"], r["id"]) for r in plan.search(q, 5, nprobe=8).collect()}
        recall = len(got & truth) / len(truth)
        assert recall >= min_recall, (desc, recall)


def test_factory_rejects_bad_refine_position(vectors):
    import pytest as _pytest

    from faiss_spark.plans.factory import index_factory

    with _pytest.raises(ValueError):
        index_factory("RFlat,Flat")  # refinement before index stage
    with _pytest.raises(ValueError):
        index_factory("IVF8,Flat,RFlat,Extra")


def test_streaming_incremental_add_into_ivfpq(vectors, spark, tmp_path):
    """Streaming ingestion into a persisted COMPRESSED index: micro-batches
    are PQ-encoded with the frozen artifacts and appended; the reloaded
    index searches identically to a monolithic batch add over the same
    artifacts (encode is deterministic given centroids+codebooks)."""
    from faiss_spark.operators.ivf import IVFPQIndex

    path = str(tmp_path / "pqcodes")
    ckpt = str(tmp_path / "pqckpt")
    stream_dir = str(tmp_path / "pqincoming")

    idx = IVFPQIndex.train(vectors, nlist=8, M=4, niter=5)
    idx.add(vectors.filter("id < 250"), path=path)

    extra = vectors.filter("id >= 250")
    extra.write.mode("overwrite").parquet(stream_dir)
    stream = spark.readStream.schema(extra.schema).parquet(stream_dir)
    q = incremental_add_stream(idx, stream, path=path, checkpoint=ckpt)
    q.awaitTermination(120)

    re = IVFPQIndex.load(spark, path)
    assert re.codes.count() == vectors.count()
    mono = IVFPQIndex(centroids=idx.centroids, pq=idx.pq).add(vectors)
    qs = vectors.filter("id < 10").select(F.col("id").alias("qid"), "vec")

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
            for r in df.collect()
        )

    assert rows(re.search(qs, 5, nprobe=8)) == rows(mono.search(qs, 5, nprobe=8))


def test_streaming_incremental_add_into_imipq(vectors, spark, tmp_path):
    """Any IVF family streams through the shared encode: micro-batches
    IMI-assigned and PQ-encoded with the frozen artifacts, then the
    reloaded index returns the rows of a batch add."""
    from faiss_spark.operators.ivf import IMIPQIndex

    path = str(tmp_path / "imipq")
    stream_dir = str(tmp_path / "imipq_incoming")

    idx = IMIPQIndex.train(vectors, nbits=2, M=4, niter=5)
    idx.add(vectors.filter("id < 250"), path=path)
    extra = vectors.filter("id >= 250")
    extra.write.mode("overwrite").parquet(stream_dir)
    stream = spark.readStream.schema(extra.schema).parquet(stream_dir)
    q = incremental_add_stream(
        idx, stream, path=path, checkpoint=str(tmp_path / "imipq_ckpt")
    )
    q.awaitTermination(120)

    re = IMIPQIndex.load(spark, path)
    assert re.codes.count() == vectors.count()
    batch = IMIPQIndex(sub_centroids=idx.sub_centroids, pq=idx.pq).add(vectors)
    qs = vectors.filter("id < 10").select(F.col("id").alias("qid"), "vec")

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
            for r in df.collect()
        )

    got = rows(re.search(qs, 5, nprobe=8))
    assert got == rows(batch.search(qs, 5, nprobe=8)) and got


def test_streaming_incremental_add_rejects_unencodable(vectors, spark, tmp_path):
    with pytest.raises(TypeError, match="_encode_df"):
        incremental_add_stream(
            object(), vectors, path=str(tmp_path / "x"),
            checkpoint=str(tmp_path / "c"),
        )
