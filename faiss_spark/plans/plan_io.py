"""Persistence for fitted factory plans (``IndexPlan`` /
``BinaryIndexPlan``).

The reference's blanket IO property (its tests/test_io.py over
impl/index_write.cpp:1039) is that EVERY index the factory can build
survives write_index → read_index → identical search. A fitted plan here
is (a) the factory description string — which re-parses into the exact
config — plus (b) fitted driver models (pipelines, codebooks, norm
quantizers), (c) distributed tables (codes, reconstruction tables), and
(d) the inner index object. (b) goes through the pickle-free reflection
packer (sources/state.py), (c) through parquet, (d) through the inner
class's own save/load when it has one (the registry in
sources/persist.py) and the packer otherwise. Anything unregistered
fails loudly at write time with its class name — a new factory
composition can't silently half-persist.

Layout under ``path``::

    _plan_meta.json     description + metric + packed-state tree
    _plan_arrays.npz    all driver-side numpy payloads
    tbl_t<i>/           one parquet dir per captured DataFrame
    index/              inner index via its class save (when registered)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from faiss_spark.sources import fsio
from faiss_spark.sources.state import pack, read_npz, unpack, write_npz

__all__ = ["save_plan", "load_plan", "save_binary_plan", "load_binary_plan"]

_META = "_plan_meta.json"
_ARRAYS = "_plan_arrays.npz"

# every fitted attribute IndexPlan.search can consume (factory.py:592-773).
# _refine_plan is deliberately absent: it is consumed at fit time only —
# search re-ranks against the materialized _refine_table.
_PLAN_ATTRS = [
    "pipeline",
    "_transformed",
    "_pq_model", "_pq_codes",
    "_sq_model", "_sq_codes",
    "_rq_model", "_rq_codes",
    "_aq_norm",
    "_paq_model", "_paq_codes",
    "_aqfs_model", "_aqfs_codes",
    "_lat_codes",
    "_dedup_ids",
    "_refine_table",
    "_cgraph", "_cep",
]

_BINARY_PLAN_ATTRS = ["_codes"]


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("plan persistence needs an active SparkSession")
    return spark


def _needs_transformed(plan) -> bool:
    """The full transformed vector table is search state only for the
    brute-force and RFlat re-rank paths — persisting it for every plan
    would double the footprint of pure codec indexes."""
    return plan.index_type == "flat" or plan.refine_flat


def _write_payload(spark, path, meta, arrays, tables) -> None:
    for key, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(path, f"tbl_{key}"))
    write_npz(spark, os.path.join(path, _ARRAYS), arrays)
    fsio.write_json(spark, os.path.join(path, _META), meta)


def _read_payload(spark, path):
    meta = fsio.read_json(spark, os.path.join(path, _META))
    arrays = read_npz(spark, os.path.join(path, _ARRAYS))
    tables = {
        key: spark.read.parquet(os.path.join(path, f"tbl_{key}"))
        for key in meta.get("tables", [])
    }
    return meta, arrays, tables


def _pack_index(index, path, arrays, tables):
    """Inner index → either a class-save subdir or a packed-state node."""
    if index is None:
        return None
    from faiss_spark.sources.persist import _registry, write_index

    if type(index).__name__ in _registry():
        write_index(index, os.path.join(path, "index"))
        return {"__saved_index__": type(index).__name__}
    return pack(index, arrays, tables, "index")


def _unpack_index(node, spark, path, arrays, tables):
    if node is None:
        return None
    if isinstance(node, dict) and "__saved_index__" in node:
        from faiss_spark.sources.persist import read_index

        return read_index(spark, os.path.join(path, "index"))
    return unpack(node, arrays, tables)


def save_plan(plan, path: str):
    """Persist a fitted ``IndexPlan``; round-trips through
    ``load_plan`` to an identical search surface."""
    spark = _active_spark()
    desc = getattr(plan, "_description", None)
    if desc is None:
        from faiss_spark.plans.factory import reverse_index_factory

        desc = reverse_index_factory(plan)
    fsio.delete(spark, path)  # stale tables from a previous layout
    arrays, tables, state = {}, {}, {}
    for name in _PLAN_ATTRS:
        if name == "_transformed" and not _needs_transformed(plan):
            continue
        v = getattr(plan, name, None)
        if v is not None:
            state[name] = pack(v, arrays, tables, name)
    index_node = _pack_index(plan.index, path, arrays, tables)
    meta = {
        "kind": "IndexPlan",
        "description": desc,
        "metric": plan.metric,
        "state": state,
        "index": index_node,
        "tables": sorted(tables),
    }
    _write_payload(spark, path, meta, arrays, tables)
    return plan


def load_plan(spark: SparkSession, path: str):
    from faiss_spark.plans.factory import index_factory

    meta, arrays, tables = _read_payload(spark, path)
    if meta.get("kind") != "IndexPlan":
        raise TypeError(f"{path!r} does not hold a saved IndexPlan")
    plan = index_factory(meta["description"], metric=meta["metric"])
    for name, node in meta["state"].items():
        setattr(plan, name, unpack(node, arrays, tables))
    plan.index = _unpack_index(meta["index"], spark, path, arrays, tables)
    return plan


def save_binary_plan(plan, path: str):
    spark = _active_spark()
    from faiss_spark.plans.factory import reverse_index_binary_factory

    desc = getattr(plan, "_description", None) or reverse_index_binary_factory(plan)
    fsio.delete(spark, path)
    arrays, tables, state = {}, {}, {}
    for name in _BINARY_PLAN_ATTRS:
        v = getattr(plan, name, None)
        if v is not None:
            state[name] = pack(v, arrays, tables, name)
    index_node = _pack_index(plan.index, path, arrays, tables)
    meta = {
        "kind": "BinaryIndexPlan",
        "description": desc,
        "state": state,
        "index": index_node,
        "tables": sorted(tables),
    }
    _write_payload(spark, path, meta, arrays, tables)
    return plan


def load_binary_plan(spark: SparkSession, path: str):
    from faiss_spark.plans.factory import index_binary_factory

    meta, arrays, tables = _read_payload(spark, path)
    if meta.get("kind") != "BinaryIndexPlan":
        raise TypeError(f"{path!r} does not hold a saved BinaryIndexPlan")
    plan = index_binary_factory(meta["description"])
    for name, node in meta["state"].items():
        setattr(plan, name, unpack(node, arrays, tables))
    plan.index = _unpack_index(meta["index"], spark, path, arrays, tables)
    return plan
