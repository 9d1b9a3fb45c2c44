"""Stateful streaming operators (applyInPandasWithState): the streaming
sessionize must reproduce the batch lag-window sessionize when events
arrive in order across micro-batches; running dedup must emit each key
once, first-batch-wins."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from faiss_spark.session import load_tables
from faiss_spark.streaming.stateful import (
    running_dedup_stream,
    sessionize_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _run_stream(spark, src_dir, schema, make_query, tmp_path):
    """availableNow + maxFilesPerTrigger=1 → one micro-batch per file;
    collect every update via foreachBatch."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    rows = []

    def sink(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (
        make_query(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # availableNow queries normally self-terminate — but a stream with a
    # pending processing-time TIMEOUT (the TTL mode) stays alive firing
    # empty "no new data but cleaning up state" batches until the
    # wall-clock timer (60 min here), so a bare awaitTermination(300)
    # burns the full 300 s (r14: this one test was 300 of the suite's
    # ~1900 s). Poll progress instead: once two consecutive batches read
    # ZERO input rows, the source is drained and everything the test can
    # observe has been emitted — stop.
    import time as _time

    deadline = _time.time() + 300
    zero_batches = 0
    seen: set = set()
    while q.isActive and _time.time() < deadline:
        lp = q.lastProgress
        if lp and lp["batchId"] not in seen:
            seen.add(lp["batchId"])
            if lp["numInputRows"] == 0:
                zero_batches += 1
                if zero_batches >= 2:
                    break
            else:
                zero_batches = 0
        _time.sleep(0.25)
    if q.isActive:
        q.stop()
    q.awaitTermination(60)
    return rows


def test_sessionize_stream_matches_batch(spark, tables, tmp_path):
    ev = tables["events"]
    # two ordered micro-batches: everything before the median ts, then
    # the rest — per-user cross-batch ordering holds
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(ts_us.alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    src = str(tmp_path / "events_stream")
    ev.filter(ts_us <= F.lit(int(med))).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    ev.filter(ts_us > F.lit(int(med))).coalesce(1).write.mode("append").parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 2

    rows = _run_stream(
        spark, src, ev.schema, lambda s: sessionize_stream(s), tmp_path
    )
    # last emit per user = final cumulative counts
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_sessions"], r["n_events"])

    # batch twin (same math as the events_sessionize driver entry)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gap = ts_us - prev
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in (
            ev.withColumn(
                "new_s",
                F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
            )
            .groupBy("user_id")
            .agg(
                F.sum("new_s").alias("n_sessions"),
                F.count("*").alias("n_events"),
            )
            .collect()
        )
    }
    assert final == want and len(want) > 0


def test_running_dedup_stream_first_batch_wins(spark, tables, tmp_path):
    docs = load_tables(spark, SF_DIR)["documents"]
    src = str(tmp_path / "docs_stream")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.mode("append").parquet(src)

    rows = _run_stream(
        spark,
        src,
        docs.schema,
        lambda s: running_dedup_stream(s, F.md5(F.col("text"))),
        tmp_path,
    )
    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys))  # each key emitted exactly once
    # equals the batch keep-first answer on the same ORDERED arrival:
    # min doc_id per fingerprint
    want = {
        (r["key"], r["doc_id"])
        for r in docs.select(
            F.md5(F.col("text")).alias("key"), "doc_id"
        )
        .groupBy("key")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert {(r["key"], r["doc_id"]) for r in rows} == want


def test_neardup_stream_matches_batch_bands(spark, tables, tmp_path):
    """Streaming LSH near-dup candidates == the batch band table's
    keep-first answer when micro-batches arrive in doc_id order: per
    band bucket, rep = min doc_id, every other sharer emitted exactly
    once against it; and the known exact-duplicate docs are flagged."""
    from faiss_spark.operators.dedup import minhash_signatures
    from faiss_spark.streaming.stateful import neardup_stream

    docs = load_tables(spark, SF_DIR)["documents"]
    src = str(tmp_path / "nd_stream")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.mode("append").parquet(src)

    rows = _run_stream(
        spark, src, docs.schema, lambda s: neardup_stream(s), tmp_path
    )
    got = {(r["bucket"], r["doc_id"], r["dup_of"]) for r in rows}
    # batch twin: band table from minhash_signatures (the numpy MD5
    # kernel), keep-first per bucket — this pins the kernel against the
    # streaming HOF form, the independent JVM reference
    sig = minhash_signatures(docs)
    rows_per_band = 3
    bands = [
        F.md5(
            F.concat_ws(
                "",
                *[
                    F.element_at("mh", b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(4)
    ]
    band_tbl = sig.select(
        F.col("id").alias("doc_id"), F.explode(F.array(*bands)).alias("bucket")
    ).collect()
    by_bucket = {}
    for r in band_tbl:
        by_bucket.setdefault(r["bucket"], []).append(r["doc_id"])
    want = set()
    for bucket, ids in by_bucket.items():
        rep = min(ids)
        for d in ids:
            if d != rep:
                want.add((bucket, d, rep))
    assert got == want
    assert len(want) > 0
    # every emitted doc is emitted at most once per bucket
    assert len(got) == len({(b, d) for b, d, _ in got})


def test_neardup_stream_ttl_mode(spark, tables, tmp_path):
    """VERDICT r7 #7: the TTL mode (recency-bounded dedup). Within the
    TTL window behavior is identical to keep-first — pinned by rerunning
    the batch-equivalence stream with a large ttl_minutes — and the
    timed-out branch drops the bucket's state so a later claimant starts
    a fresh scope (unit-tested directly on the fold: the streaming
    engine only fires processing-time timeouts on wall-clock, which a
    test cannot wait for)."""
    import pandas as pd

    from faiss_spark.streaming.stateful import (
        _make_neardup_fold,
        neardup_stream,
    )

    docs = load_tables(spark, SF_DIR)["documents"]
    src = str(tmp_path / "nd_ttl_stream")
    docs.coalesce(1).write.parquet(src, mode="overwrite")
    rows = _run_stream(
        spark,
        src,
        docs.schema,
        lambda s: neardup_stream(s, ttl_minutes=60),
        tmp_path,
    )
    assert len(rows) > 0
    assert len(rows) == len({(r["bucket"], r["doc_id"]) for r in rows})

    # --- fold-level: the hasTimedOut branch removes state, emits nothing
    class FakeState:
        def __init__(self):
            self.hasTimedOut = True
            self.exists = True
            self.get = (7,)
            self.removed = False
            self.timeout_ms = None

        def remove(self):
            self.removed = True

        def update(self, v):
            raise AssertionError("timed-out fold must not update state")

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fold = _make_neardup_fold(ttl_minutes=30)
    st = FakeState()
    out = list(fold(("b",), iter([pd.DataFrame({"doc_id": [1, 2]})]), st))
    assert out == [] and st.removed
    # --- fold-level: a live group under TTL re-arms the timeout
    st2 = FakeState()
    st2.hasTimedOut = False
    st2.exists = False
    st2.update = lambda v: None
    out2 = list(fold(("b",), iter([pd.DataFrame({"doc_id": [1, 2]})]), st2))
    assert st2.timeout_ms == 30 * 60 * 1000
    assert len(out2) == 1 and list(out2[0]["doc_id"]) == [2]
