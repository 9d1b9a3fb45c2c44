"""Generic ``write_index`` / ``read_index`` (reference faiss/index_io.h:38-56).

The reference serializes any ``Index*`` into one binary blob behind two
free functions; here an index is a partitioned parquet table (or tables)
plus small model artifacts, so the generic pair delegates to the class's
own ``save``/``load`` and stamps a ``_index_kind.json`` marker that
``read_index`` dispatches on. No faiss binary compatibility is attempted
(declared out of scope in SURVEY §2.I) — the contract is round-trip
fidelity within this engine: ``read_index(spark, write_index(ix,
path).path)`` searches identically to ``ix``.

Dispatch: the IVF families are every subclass of
``operators.ivf._IVFIndexBase`` (found by a walk, so a new family needs
no entry here); the other kinds are listed in ``_registry``. Every IVF
family shares one ``save``/``load``: the codes table partitioned (or,
after ``save_bucketed``, bucketed) by list_no, plus ``_ivf_state.json``
and ``_ivf_state.npz`` — the model state packed by the allowlisted,
pickle-free ``sources.state.pack``. That layout replaced the earlier
per-family ``_<family>_meta.json`` / ``*.npy`` files, which no reader
accepts: an IVF index saved in that layout must be rebuilt and saved
again. The binary IVF index (``operators.binary.BinaryIVFIndex``) is one
of these families: its ``_bivf_meta.json`` and
``_bivf_centroid_words.npy`` are gone too, and its coarse graph
(``BIVF<n>_HNSW<m>``) is saved in the packed state instead of being
rebuilt on load.

Scale note: save/load never collect the codes table — the heavy payload
moves executor→parquet→executor; only the broadcast-class model
artifacts (centroids, codebooks, quantizer ranges — the same objects a
search would broadcast anyway) touch the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from faiss_spark.sources import fsio

__all__ = ["write_index", "read_index"]

_KIND_FILE = "_index_kind.json"


def _registry():
    # imported lazily: persist.py must stay importable without dragging
    # every operator module in at package-import time
    from faiss_spark.operators.ivf import _ivf_families
    from faiss_spark.operators.lattice import LatticeIndex
    from faiss_spark.operators.nsg import NSGIndex
    from faiss_spark.plans.factory import BinaryIndexPlan, IndexPlan

    classes = [
        IndexPlan,
        BinaryIndexPlan,
        NSGIndex,
        LatticeIndex,
        *_ivf_families(),
    ]
    return {c.__name__: c for c in classes if hasattr(c, "save")}


def write_index(index, path: str):
    """Persist any saveable index under ``path`` and stamp its kind so
    ``read_index`` can reconstruct it without knowing the type."""
    reg = _registry()
    kind = type(index).__name__
    if kind not in reg:
        supported = ", ".join(sorted(reg))
        raise TypeError(
            f"write_index: {kind} is not a persistable index "
            f"(supported: {supported})"
        )
    if kind == "LatticeIndex":
        index.save(path, getattr(index, "codes", None))
    else:
        index.save(path)
    # written AFTER save: the parquet overwrite clears the directory
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "write_index needs an active SparkSession to reach the "
            "target filesystem"
        )
    fsio.write_json(spark, os.path.join(path, _KIND_FILE), {"kind": kind})
    return index


def read_index(spark: SparkSession, path: str):
    """Reconstruct whatever ``write_index`` stored at ``path``."""
    marker = os.path.join(path, _KIND_FILE)
    if not fsio.exists(spark, marker):
        raise FileNotFoundError(
            f"read_index: no {_KIND_FILE} under {path!r} — either the "
            "directory is not a write_index layout, or it was saved via a "
            "class-specific save(); call that class's load() directly"
        )
    kind = fsio.read_json(spark, marker)["kind"]
    reg = _registry()
    if kind not in reg:
        raise TypeError(f"read_index: unknown index kind {kind!r}")
    return reg[kind].load(spark, path)
