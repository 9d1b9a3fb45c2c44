"""Custom stateful streaming operators via applyInPandasWithState.

The reference engine is batch-only, so these are the Structured-Streaming
re-expressions of its batch analytics for a continuously-arriving corpus
(SURVEY §2.K): per-key state lives in the state store, each micro-batch
folds its rows into the state, and the operator emits updated aggregates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def sessionize_stream(
    events: DataFrame,
    gap_us: int = 30 * 60 * 1_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful gap-based sessionization of an event stream — the
    streaming twin of the batch lag-window sessionize (driver entry
    ``events_sessionize``): a new session starts when the gap to the
    previous event exceeds ``gap_us`` microseconds.

    Per-user state = (last event micros, cumulative session count,
    cumulative event count), carried across micro-batches in the state
    store (``applyInPandasWithState``). Each micro-batch emits the
    updated cumulative row for every user it touched; the LAST emit per
    user is the final answer.

    Assumes per-user event-time ordering ACROSS micro-batches (each
    batch's events are later than the previous batch's, e.g. an ordered
    ingestion log); within a batch rows are sorted here. Late data needs
    a watermark + event-time re-sort upstream, which this operator
    deliberately leaves to the source contract — same as the batch twin,
    which sees totally-ordered input."""
    out_type = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_sessions", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_type = StructType(
        [
            StructField("last_us", LongType()),
            StructField("n_sessions", LongType()),
            StructField("n_events", LongType()),
        ]
    )

    def fold(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = None, 0, 0
        ts_all = []
        for pdf in pdfs:
            col = pdf["__ts_us"]
            if len(col):
                ts_all.append(col.to_numpy(dtype=np.int64))
        if ts_all:
            ts = np.sort(np.concatenate(ts_all))
            gaps_open = np.empty(len(ts), dtype=bool)
            gaps_open[0] = last_us is None or ts[0] - last_us > gap_us
            if len(ts) > 1:
                gaps_open[1:] = (ts[1:] - ts[:-1]) > gap_us
            n_sessions += int(gaps_open.sum())
            n_events += len(ts)
            last_us = int(ts[-1])
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    src = events.select(
        F.col(user_col).cast("bigint").alias(user_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__ts_us"),
    )
    return src.groupBy(user_col).applyInPandasWithState(
        fold, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def running_dedup_stream(
    docs: DataFrame,
    key_expr,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST document seen for each
    dedup key (e.g. a text fingerprint), across all micro-batches — the
    streaming form of ``dedup.exact_dedup``'s keep-first semantics for a
    continuously-ingested corpus. Per-key state is one boolean (seen).

    key_expr: a Column producing the dedup key (e.g.
    ``F.md5(F.col("text"))``)."""
    out_type = StructType(
        [
            StructField("key", StringType()),
            StructField("doc_id", LongType()),
        ]
    )
    state_type = StructType([StructField("seen", LongType())])

    def fold(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        first_id = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                first_id = m if first_id is None else min(first_id, m)
        if state.exists or first_id is None:
            # key already emitted in an earlier batch (or empty group)
            return
        state.update((1,))
        yield pd.DataFrame({"key": [key[0]], "doc_id": [first_id]})

    src = docs.select(
        key_expr.cast("string").alias("key"),
        F.col(id_col).cast("bigint").alias("doc_id"),
    )
    return src.groupBy("key").applyInPandasWithState(
        fold, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )


def _make_neardup_fold(ttl_minutes: int | None):
    """Per-bucket keep-first fold for ``neardup_stream`` (module-level so
    the TTL branch is directly unit-testable). With a TTL, a bucket whose
    state timed out is simply forgotten — its next claimant starts a
    fresh keep-first scope (recency-bounded dedup)."""

    def fold(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        ids_all = []
        for pdf in pdfs:
            if len(pdf):
                ids_all.append(pdf["doc_id"].to_numpy(dtype=np.int64))
        if not ids_all:
            return
        ids = np.unique(np.concatenate(ids_all))
        if state.exists:
            rep = state.get[0]
            dups = ids[ids != rep]
        else:
            rep = int(ids[0])
            dups = ids[1:]
        state.update((rep,))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if len(dups):
            yield pd.DataFrame(
                {
                    "bucket": key[0],
                    "doc_id": dups,
                    "dup_of": rep,
                }
            )

    return fold


def neardup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    num_bands: int = 4,
    n: int = 3,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming near-duplicate detection — the streaming form of
    ``dedup.minhash_lsh_pairs``'s candidate generation for a
    continuously-ingested corpus: each arriving document's MinHash LSH
    band buckets are checked against the state store; the FIRST
    claimant of a bucket is kept, and every later document sharing that
    bucket is emitted as (bucket, doc_id, dup_of=claimant). A document
    flagged in ≥1 bucket is a near-dup candidate (the LSH s-curve
    semantics); exact-Jaccard verification of emitted pairs is a cheap
    batch follow-up, exactly as in the batch operator.

    Plan constraints drive the shape: Structured Streaming allows ONE
    stateful operator per query, so signatures come from the pure
    higher-order-function form (``dedup._minhash_array`` — per-row
    expressions, bit-identical to the batch numpy MD5 kernel and
    pinned so in tests), never a groupBy aggregation; the single
    stateful op is the per-bucket keep-first fold, whose state is one
    bigint (the claimant id) per touched bucket — the minimum state
    keep-first candidate dedup can carry.

    State sizing (provision the state store for this): keep-first
    against ALL history means state NEVER expires by default — one entry
    per distinct touched bucket, i.e. up to ``num_bands × distinct
    docs`` entries of (32-char md5 bucket key + one bigint + store
    overhead) ≈ 100 B/entry: ~400 GB of state store per 10⁹ documents at
    num_bands=4 (RocksDB state store territory, not the in-memory
    HDFSBackedStateStore). A forgotten bucket would silently re-admit
    its duplicates, which is why no-TTL is the default. When
    recency-bounded dedup is acceptable (only flag duplicates of
    documents seen in the last N minutes — the common shape for feed /
    log ingestion), set ``ttl_minutes``: bucket state then expires via a
    processing-time timeout and the store holds only the active window's
    buckets."""
    from faiss_spark.functions.text import bind, shingles
    from faiss_spark.operators.dedup import _minhash_array

    rows = num_hashes // num_bands
    mh = _minhash_array(shingles(F.col(text_col), n), num_hashes)
    bands = bind(
        mh,
        lambda m: F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "",
                        *[
                            F.element_at(m, b * rows + r + 1)
                            for r in range(rows)
                        ],
                    )
                )
                for b in range(num_bands)
            ]
        ),
    )
    src = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.explode(bands).alias("bucket"),
    )
    out_type = StructType(
        [
            StructField("bucket", StringType()),
            StructField("doc_id", LongType()),
            StructField("dup_of", LongType()),
        ]
    )
    state_type = StructType([StructField("rep", LongType())])
    fold = _make_neardup_fold(ttl_minutes)
    timeout = (
        GroupStateTimeout.NoTimeout
        if ttl_minutes is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return src.groupBy("bucket").applyInPandasWithState(
        fold, out_type, state_type, "update", timeout
    )
