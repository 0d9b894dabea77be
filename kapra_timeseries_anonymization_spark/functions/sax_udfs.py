"""Arrow-boundary wrappers around the numpy kernels.

Design: a series column crosses into Python as one Arrow ``list<double>``
array per batch; :func:`arrow_block` views its flat child as a 2-D float64
block without building a Python object per row, the kernels make whole-
block numpy calls, and the results go back as Arrow arrays built from
numpy buffers — no per-row Python on either side of the boundary.

NEGATIVE RESULT (BENCH.md r04): a pure-JVM staged-projection SAX
expression measured 2.2-2.7x SLOWER than the Python UDF at 10M rows
(28-34 s vs 13-16 s, local[16]): codegen's subexpression elimination
skips expressions under conditional CASE branches, so the z-norm/PAA tree
re-evaluated once per breakpoint term, while numpy computes a batch in
~20 vectorized passes. It had no production caller and was removed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf

from .kernels import sax_pl_levels_block


def arrow_block(values: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """(n_rows, t) float64 block of a ``list<double>`` Arrow column: the
    flat child reshaped, zero-copy for one null-free chunk. Raises on
    ragged rows, which a plain reshape could silently misalign."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    n = len(values)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    lengths = pc.list_value_length(values).to_numpy(zero_copy_only=False)
    t = int(lengths[0])
    if (lengths != t).any():
        raise ValueError("series of unequal length in one column")
    flat = values.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(n, t)


def list_array(flat: np.ndarray | pa.Array, width: int) -> pa.ListArray:
    """``list`` column of ``len(flat) // width`` rows of ``width`` values."""
    offsets = np.arange(0, len(flat) + 1, width, dtype=np.int32)
    if not isinstance(flat, pa.Array):
        flat = pa.array(flat)
    return pa.ListArray.from_arrays(pa.array(offsets), flat)


def words_list(codes: np.ndarray) -> pa.ListArray:
    """``list<string>`` column from (n_rows, n_levels, n_segments) symbol
    indices (0 == 'a'): the words are read from one byte buffer."""
    n, n_levels, w = codes.shape
    data = np.ascontiguousarray(codes + 97, dtype=np.uint8)
    offsets = np.arange(0, data.size + 1, w, dtype=np.int32)
    words = pa.StringArray.from_buffers(
        n * n_levels, pa.py_buffer(offsets), pa.py_buffer(data))
    return list_array(words, n_levels)


def sax_pl_udf(levels: list[int], n_segments: int = 4, with_pl: bool = True):
    """Arrow UDF: array<double> -> struct<sax_vec array<string>,
    pl_vec array<double>> — the SAX word at every level in ``levels`` and
    the record's pattern loss against its own word at each of them
    (:func:`kernels.sax_pl_levels_block`). Without ``with_pl`` the
    ``pl_vec`` field is null and no loss is computed."""
    levels = list(levels)

    @arrow_udf("struct<sax_vec: array<string>, pl_vec: array<double>>")
    def sax_pl(values: pa.Array) -> pa.Array:
        n = len(values)
        block = arrow_block(values)
        if n:
            codes, pl = sax_pl_levels_block(block, levels, n_segments, with_pl)
        else:
            codes = np.empty((0, len(levels), n_segments), dtype=np.uint8)
            pl = np.empty((0, len(levels))) if with_pl else None
        pl_vec = (list_array(pl.ravel(), len(levels)) if with_pl
                  else pa.nulls(n, pa.list_(pa.float64())))
        return pa.StructArray.from_arrays(
            [words_list(codes), pl_vec], names=["sax_vec", "pl_vec"])

    return sax_pl
