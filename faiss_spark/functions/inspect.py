"""Index introspection helpers — the contrib/inspect_tools.py surface
(reference contrib/inspect_tools.py:10-60) re-expressed over the
partitioned-table layout. On Spark these are one-liners by design (the
index IS a queryable table plus small numpy artifacts), but the named
helpers keep a reference user's tooling working verbatim."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from faiss_spark.kernels import arrow_i64
from faiss_spark.operators.ivf import _list_sizes


def get_invlist(index, list_no: int):
    """Content of one inverted list as (ids, payload) numpy arrays —
    reference get_invlist (contrib/inspect_tools.py:10). The payload
    column is whatever the index stores: raw vectors (IVFFlat), codes
    (IVFPQ/SQ/AQ/binary)."""
    codes = index.codes
    if codes is None:
        raise ValueError("index has no codes table; call add() first")
    payload_col = next(c for c in codes.columns if c not in ("list_no", "id"))
    tbl = (
        codes.filter(F.col("list_no") == int(list_no))
        .select("id", payload_col)
        .orderBy("id")
        .toArrow()
    )
    return arrow_i64(tbl.column(0)), tbl.column(1).to_numpy()


def get_invlist_sizes(index) -> np.ndarray:
    """Array of inverted-list sizes, indexed by list_no — reference
    get_invlist_sizes (contrib/inspect_tools.py:41). Lists with no
    entries report 0. One partition-wise count aggregation, cached on
    the index (the max_codes scan budget reads the same counts)."""
    if index.codes is None:
        raise ValueError("index has no codes table; call add() first")
    return _list_sizes(index).copy()


def get_pq_centroids(pqm) -> np.ndarray:
    """The (M, ksub, dsub) PQ codebooks — reference get_pq_centroids
    (contrib/inspect_tools.py:57)."""
    return np.asarray(pqm.codebooks)


def print_index_info(index) -> str:
    """Human-readable summary of an index's model artifacts and table —
    the print_object_fields analogue (contrib/inspect_tools.py:50).
    Returns the string (and prints it)."""
    lines = [type(index).__name__]
    for name in ("metric", "path", "period", "threshold_type", "nhash", "b"):
        if hasattr(index, name) and getattr(index, name) is not None:
            lines.append(f"  {name} = {getattr(index, name)}")
    for name in ("centroids", "sub_centroids", "A", "trained"):
        arr = getattr(index, name, None)
        if arr is not None:
            lines.append(f"  {name}: shape {tuple(np.asarray(arr).shape)}")
    codes = getattr(index, "codes", None)
    if isinstance(codes, DataFrame):
        lines.append(f"  codes table: columns {codes.columns}")
    out = "\n".join(lines)
    print(out)
    return out
