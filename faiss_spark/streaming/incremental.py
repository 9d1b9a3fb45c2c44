"""Incremental index maintenance with Structured Streaming — SURVEY §2.K.

Reference analogues: incremental ``add`` to a built index
(faiss/Index.h:107), on-disk invlist append
(faiss/invlists/OnDiskInvertedLists.h:83-104), and the sliding-window
invlist swap of tests/test_sliding_ivf.cpp.

Pattern: trained artifacts (centroids/codebooks) are FROZEN; a stream of
new vectors is encoded with the broadcast artifacts inside foreachBatch
and appended to the partitioned codes table. Searches against the table
see new data on their next run — the same contract as faiss's add (no
retrain). Compaction = rewrite partitions (merge_ondisk analogue).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.operators.cluster import KMeansModel
from faiss_spark.operators.ivf import IVFIndex, _IVFIndexBase


def incremental_add_stream(
    index,
    stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "id",
    vec_col: str = "vec",
    trigger_available_now: bool = True,
):
    """Attach a streaming writer that encodes each micro-batch with the
    index's FROZEN artifacts and appends to its partitioned codes table.

    Works for every IVF index (every family shares the base
    ``_encode_df``), raw-vector or coded: streaming ingestion into a
    persisted COMPRESSED index is the 100 TB serving pattern (encode
    once on arrival, scans stay 4-32× smaller than raw). The encode is
    the same map-only plan as the index's batch add(); each micro-batch
    costs one partitioned append, no shuffle of existing data.

    Returns the StreamingQuery (caller awaits/stops it)."""
    if not isinstance(index, _IVFIndexBase):
        raise TypeError(
            f"incremental_add_stream: {type(index).__name__} has no "
            "_encode_df — supported: the IVF indexes of operators.ivf "
            "and operators.fastscan"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        index._encode_df(batch_df, id_col=id_col, vec_col=vec_col).write.mode(
            "append"
        ).partitionBy("list_no").parquet(path)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def update_vectors(
    index: IVFIndex,
    updates: DataFrame,
    path: str | None = None,
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """In-place vector update (reference IndexIVF::update_vectors,
    faiss/IndexIVF.h:269: "calls remove_ids then add_with_ids"): updated
    ids are re-assigned with the FROZEN centroids, removed from their old
    lists and inserted into their new ones.

    With a persisted table, only the AFFECTED list partitions (old list ∪
    new list of every updated id) are rewritten — dynamic partition
    overwrite; the other nlist − |affected| partitions are untouched, so
    the cost scales with the update, not the index. Returns the updated
    codes DataFrame (and re-points index.codes at it)."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    model = KMeansModel(
        centroids=index.centroids,
        k=len(index.centroids),
        d=index.centroids.shape[1],
        spherical=(index.metric == "cosine"),
    )
    upd = updates.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    assigned = model.assign(upd).select("id", F.col("cluster").alias("list_no"))
    new_rows = upd.join(assigned, "id").select("list_no", "id", "vec")
    if path is None:
        ids = upd.select("id")
        merged = (
            index.codes.join(ids, "id", "left_anti")
            .select("list_no", "id", "vec")
            .unionByName(new_rows)
        )
        index.codes = merged
        return merged
    spark = index.codes.sparkSession
    ids = upd.select("id")
    old_lists = index.codes.join(ids, "id").select("list_no").distinct()
    new_lists = new_rows.select("list_no").distinct()
    affected = [r["list_no"] for r in old_lists.union(new_lists).distinct().collect()]
    # rows the affected partitions must contain after the update
    replacement = (
        index.codes.filter(F.col("list_no").isin(affected))
        .join(ids, "id", "left_anti")
        .select("list_no", "id", "vec")
        .unionByName(new_rows)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # localCheckpoint: the replacement plan READS the same parquet
        # partitions the write overwrites — materialize first
        replacement.localCheckpoint(eager=True).write.mode(
            "overwrite"
        ).partitionBy("list_no").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    index.codes = spark.read.parquet(path)
    return index.codes


def add_windowed(
    index: IVFIndex,
    vectors: DataFrame,
    path: str,
    batch_no: int,
    id_col: str = "id",
    vec_col: str = "vec",
) -> None:
    """Append a time-window batch to the codes table, partitioned by
    (list_no, batch_no) — the layout that makes the sliding-window
    invlist swap (reference tests/test_sliding_ivf.cpp) a pure
    metadata/directory operation."""
    model = KMeansModel(
        centroids=index.centroids,
        k=len(index.centroids),
        d=index.centroids.shape[1],
        spherical=(index.metric == "cosine"),
    )
    src = vectors.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    assigned = model.assign(src).select("id", F.col("cluster").alias("list_no"))
    (
        src.join(assigned, "id")
        .select("list_no", F.lit(int(batch_no)).alias("batch_no"), "id", "vec")
        .write.mode("append")
        .partitionBy("list_no", "batch_no")
        .parquet(path)
    )


def drop_window_before(spark, path: str, min_batch: int) -> int:
    """Sliding-window retention: drop every batch_no < min_batch by
    DELETING its partition directories — no row is read or rewritten
    (the invlist-swap trick of tests/test_sliding_ivf.cpp: the reference
    swaps whole invlist arrays; our invlists are directories). On object
    stores this is a prefix delete. Returns #partitions dropped."""
    import glob
    import shutil

    dropped = 0
    for d in glob.glob(os.path.join(path, "list_no=*", "batch_no=*")):
        b = int(d.rsplit("batch_no=", 1)[1])
        if b < min_batch:
            shutil.rmtree(d)
            dropped += 1
    return dropped


def compact_codes_table(spark, path: str, target_files_per_list: int = 1) -> None:
    """Rewrite the partitioned codes table to coalesce small append files
    (the merge_ondisk compaction analogue, reference contrib/ondisk.py:13)."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    (
        df.repartition(target_files_per_list, "list_no")
        .write.mode("overwrite")
        .partitionBy("list_no")
        .parquet(tmp)
    )
    import shutil

    shutil.rmtree(path)
    shutil.move(tmp, path)
