"""Pickle-free driver-state serialization for fitted plans.

The reference serializes every fitted index through one tagged binary
writer (``impl/index_write.cpp:1039`` — a dispatch over index kinds that
flattens each into scalars + arrays). Here the same role is played by a
reflection walk over an ALLOWLIST of model classes: scalar attributes
become JSON, numpy arrays become entries of one ``.npz`` blob, DataFrame
attributes become parquet side-tables, and nested registered models
recurse. No pickles, no code objects — ``unpack`` only ever constructs
classes from the explicit allowlist below.

Scale note: everything packed here is driver-side model state (the same
objects a search would broadcast — centroids, codebooks, rotation
matrices). The heavy payloads (codes tables, reconstruction tables) go
DataFrame → parquet without touching the driver.
"""

from __future__ import annotations

import io

import numpy as np
from pyspark.sql import DataFrame

from faiss_spark.sources import fsio

__all__ = ["pack", "unpack", "registered_classes", "write_npz", "read_npz"]


def registered_classes() -> dict:
    """Name → class allowlist. Imported lazily so this module stays
    importable without dragging every operator module in."""
    from faiss_spark.operators.binary import (
        BinaryHashIndex,
        BinaryMultiHashIndex,
        LSHIndex,
    )
    from faiss_spark.operators.codecs import (
        AQNormQuantizer,
        LocalSearchQuantizer,
        LocalSearchQuantizerModel,
        LSCoarseQuantizer,
        ProductAdditiveQuantizer,
        ProductAdditiveQuantizerModel,
        ProductQuantizer,
        ProductQuantizerModel,
        ResidualCoarseQuantizer,
        ResidualCoarseQuantizerModel,
        ResidualQuantizer,
        ResidualQuantizerModel,
        ScalarQuantizer,
        ScalarQuantizerModel,
    )
    from faiss_spark.operators.fastscan import (
        AQFastScanModel,
        ProductAQAdapter,
    )
    from faiss_spark.operators.ivf import (
        CompositeCoarseRouter,
        NestedCoarseRouter,
        _GraphRouter,
        _ivf_families,
    )
    from faiss_spark.operators.lattice import LatticeIndex, LatticeModel
    from faiss_spark.operators.transforms import (
        CenteringTransform,
        ITQTransform,
        LinearTransformModel,
        OPQMatrix,
        PCAMatrix,
        Pipeline,
        RandomRotation,
    )

    classes = [
        # codec models + estimators
        ScalarQuantizerModel, ScalarQuantizer,
        ProductQuantizerModel, ProductQuantizer,
        ResidualQuantizerModel, ResidualQuantizer,
        LocalSearchQuantizerModel, LocalSearchQuantizer,
        ResidualCoarseQuantizerModel, ResidualCoarseQuantizer,
        LSCoarseQuantizer,
        ProductAdditiveQuantizerModel, ProductAdditiveQuantizer,
        AQNormQuantizer,
        # fast-scan driver models
        AQFastScanModel, ProductAQAdapter,
        # transforms
        LinearTransformModel, Pipeline,
        CenteringTransform, PCAMatrix, RandomRotation, OPQMatrix,
        ITQTransform,
        # index objects whose state is model arrays + one codes table
        LatticeModel, LatticeIndex, LSHIndex,
        BinaryHashIndex, BinaryMultiHashIndex,
        # IVF coarse routers, and every IVF family (found by a walk)
        NestedCoarseRouter, CompositeCoarseRouter, _GraphRouter,
        *_ivf_families(),
    ]
    return {c.__name__: c for c in classes}


def _np_scalar(v):
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.bool_):
        return bool(v)
    return v


def pack(obj, arrays: dict, tables: dict, path: str = "root"):
    """Object → JSON-able tree. ``arrays`` and ``tables`` collect the
    numpy / DataFrame payloads keyed by a stable counter; the tree holds
    the keys. Raises TypeError (with the attribute path AND the class
    name) on anything outside the allowlist — an unregistered model can
    never be silently dropped from a saved index."""
    obj = _np_scalar(obj)
    if obj is None or isinstance(obj, (bool, int, float, str)):
        return obj
    if isinstance(obj, np.ndarray):
        if obj.dtype == object:
            raise TypeError(f"{path}: object-dtype array is not persistable")
        key = f"a{len(arrays)}"
        arrays[key] = obj
        return {"__npy__": key}
    if isinstance(obj, DataFrame):
        key = f"t{len(tables)}"
        tables[key] = obj
        return {"__df__": key}
    if isinstance(obj, tuple):
        return {"__tuple__": [
            pack(v, arrays, tables, f"{path}[{i}]") for i, v in enumerate(obj)
        ]}
    if isinstance(obj, list):
        return {"__list__": [
            pack(v, arrays, tables, f"{path}[{i}]") for i, v in enumerate(obj)
        ]}
    if isinstance(obj, dict):
        bad = [k for k in obj if not isinstance(k, str)]
        if bad:
            raise TypeError(f"{path}: non-string dict keys {bad!r}")
        return {"__dict__": {
            k: pack(v, arrays, tables, f"{path}.{k}") for k, v in obj.items()
        }}
    reg = registered_classes()
    cls_name = type(obj).__name__
    if cls_name in reg and type(obj) is reg[cls_name]:
        skip = set(getattr(type(obj), "__persist_skip__", ()))
        attrs = {
            k: pack(v, arrays, tables, f"{path}.{k}")
            for k, v in vars(obj).items()
            if k not in skip
        }
        return {"__obj__": cls_name, "attrs": attrs}
    raise TypeError(
        f"{path}: {cls_name} is not a persistable model class — add it to "
        "faiss_spark.sources.state.registered_classes (or give the owning "
        "index its own save/load)"
    )


def unpack(node, arrays: dict, tables: dict):
    """Inverse of ``pack``. Reconstructs registered objects with
    ``cls.__new__`` + setattr (no constructor side effects), then calls
    ``__persist_rebuild__`` when the class defines it (for derived state
    excluded via ``__persist_skip__``)."""
    if node is None or isinstance(node, (bool, int, float, str)):
        return node
    if "__npy__" in node:
        return arrays[node["__npy__"]]
    if "__df__" in node:
        return tables[node["__df__"]]
    if "__tuple__" in node:
        return tuple(unpack(v, arrays, tables) for v in node["__tuple__"])
    if "__list__" in node:
        return [unpack(v, arrays, tables) for v in node["__list__"]]
    if "__dict__" in node:
        return {k: unpack(v, arrays, tables) for k, v in node["__dict__"].items()}
    if "__obj__" in node:
        reg = registered_classes()
        kind = node["__obj__"]
        if kind not in reg:
            raise TypeError(f"unknown persisted model class {kind!r}")
        cls = reg[kind]
        obj = cls.__new__(cls)
        for k, v in node["attrs"].items():
            setattr(obj, k, unpack(v, arrays, tables))
        rebuild = getattr(obj, "__persist_rebuild__", None)
        if rebuild is not None:
            rebuild()
        return obj
    raise TypeError(f"unrecognized persisted node {node!r}")


def write_npz(spark, path: str, arrays: dict) -> None:
    """The ``arrays`` collected by ``pack`` as one .npz file."""
    buf = io.BytesIO()
    np.savez(buf, **arrays)
    fsio.write_bytes(spark, path, buf.getvalue())


def read_npz(spark, path: str) -> dict:
    with np.load(io.BytesIO(fsio.read_bytes(spark, path))) as z:
        return {k: z[k] for k in z.files}
