"""The bridge between Python values and Arrow columns inside a Python worker.

Every ``mapInArrow`` kernel builds its output columns and reads its numeric
input columns through this module, and through nothing else. The reason is
pandas: pyarrow 16 imports it the first time a process calls ``pa.array``,
``pa.scalar`` or ``Array.to_numpy`` (its pandas shim asks whether the input
is a pandas object, or hands the conversion to pandas). No Arrow kernel
uses pandas, yet that import costs a worker ~0.29 s of CPU and ~35 MB of
resident memory on its first batch.

The functions here touch only numpy, which ``pyspark.worker`` already
imports, plus ``pa.py_buffer`` and ``pa.Array.from_buffers``:

- build: ``strings`` / ``binaries`` / ``numbers`` / ``bools`` from Python
  lists (``None`` is a null) or numpy arrays;
- read: ``view`` is a zero-copy numpy view of a numeric array, and
  ``valid_mask`` is an array's validity as a bool ndarray.

``mapInPandas`` kernels keep using pandas; this module is for the Arrow ones.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa

MAX_OFFSET = (1 << 31) - 1  # the last offset a 32-bit-offset column can hold

_NP_DTYPES = {
    pa.int8(): np.dtype(np.int8),
    pa.int16(): np.dtype(np.int16),
    pa.int32(): np.dtype(np.int32),
    pa.int64(): np.dtype(np.int64),
    pa.uint8(): np.dtype(np.uint8),
    pa.uint16(): np.dtype(np.uint16),
    pa.uint32(): np.dtype(np.uint32),
    pa.uint64(): np.dtype(np.uint64),
    pa.float32(): np.dtype(np.float32),
    pa.float64(): np.dtype(np.float64),
}


def _np_dtype(type: pa.DataType) -> np.dtype:
    dtype = _NP_DTYPES.get(type)
    if dtype is None:
        raise TypeError(f"not a fixed-width numeric Arrow type: {type}")
    return dtype


def _validity(values) -> tuple[pa.Buffer | None, int]:
    """(validity bitmap, null count) of a list where ``None`` is a null.
    No bitmap at all when nothing is null, as ``pa.array`` does."""
    if isinstance(values, np.ndarray) or None not in values:
        return None, 0
    valid = np.fromiter((v is not None for v in values), dtype=bool, count=len(values))
    return pa.py_buffer(np.packbits(valid, bitorder="little")), len(values) - int(valid.sum())


def offsets(lengths: np.ndarray) -> np.ndarray:
    """int32 Arrow offsets of values with these lengths. The running sum is
    taken in int64 so that a column past ``MAX_OFFSET`` bytes (or list
    items) raises instead of wrapping."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    if out[-1] > MAX_OFFSET:
        raise OverflowError(
            f"{int(out[-1])} bytes or items do not fit 32-bit Arrow offsets"
        )
    return out.astype(np.int32)


def _var_width(
    type: pa.DataType, parts: Sequence[bytes], validity: pa.Buffer | None, nulls: int
) -> pa.Array:
    lengths = np.fromiter(map(len, parts), dtype=np.int64, count=len(parts))
    return pa.Array.from_buffers(
        type,
        len(parts),
        [validity, pa.py_buffer(offsets(lengths)), pa.py_buffer(b"".join(parts))],
        null_count=nulls,
    )


def strings(values: Sequence[str | None]) -> pa.Array:
    """A ``string`` column, equal to ``pa.array(values, pa.string())``."""
    validity, nulls = _validity(values)
    if nulls:
        parts = [b"" if v is None else v.encode() for v in values]
    else:
        parts = [v.encode() for v in values]
    return _var_width(pa.string(), parts, validity, nulls)


def binaries(values: Sequence[bytes | None]) -> pa.Array:
    """A ``binary`` column, equal to ``pa.array(values, pa.binary())``."""
    validity, nulls = _validity(values)
    if nulls:
        values = [b"" if v is None else v for v in values]
    return _var_width(pa.binary(), values, validity, nulls)


def numbers(values, type: pa.DataType) -> pa.Array:
    """A fixed-width numeric or ``timestamp`` column from a list (``None``
    is a null) or an ndarray; a timestamp's values are counts of its unit
    since the epoch. Equal to ``pa.array(values, type)`` for in-range
    values."""
    dtype = np.dtype(np.int64) if pa.types.is_timestamp(type) else _np_dtype(type)
    validity, nulls = _validity(values)
    if nulls:
        values = [0 if v is None else v for v in values]
    if isinstance(values, np.ndarray) or dtype.kind == "f" or dtype.itemsize == 8:
        data = np.ascontiguousarray(values, dtype=dtype)
    else:  # Python ints into a narrow type: raise as pa.array does, never wrap
        wide = np.asarray(values, dtype=np.int64)
        data = wide.astype(dtype)
        if not np.array_equal(data, wide):
            raise OverflowError(f"a value does not fit {type}")
    return pa.Array.from_buffers(
        type, len(data), [validity, pa.py_buffer(data)], null_count=nulls
    )


def bools(values) -> pa.Array:
    """A ``bool`` column from a list (``None`` is a null) or an ndarray."""
    validity, nulls = _validity(values)
    if nulls:
        values = [False if v is None else v for v in values]
    data = np.asarray(values, dtype=bool)
    return pa.Array.from_buffers(
        pa.bool_(),
        len(data),
        [validity, pa.py_buffer(np.packbits(data, bitorder="little"))],
        null_count=nulls,
    )


def view(arr: pa.Array) -> np.ndarray:
    """Zero-copy, read-only numpy view of a numeric array, sliced arrays
    included. Stands in for ``arr.to_numpy(zero_copy_only=False)``: a float
    array with nulls comes back as a copy with NaN at the nulls, as that
    gives; an integer array with nulls raises ``ValueError``."""
    dtype = _np_dtype(arr.type)
    data = arr.buffers()[1]
    if data is None:
        values = np.empty(0, dtype=dtype)
    else:
        values = np.frombuffer(
            data, dtype=dtype, count=len(arr), offset=arr.offset * dtype.itemsize
        )
    if arr.null_count:
        if dtype.kind != "f":
            raise ValueError(f"{arr.type} array with {arr.null_count} nulls has no numpy view")
        values = np.where(valid_mask(arr), values, np.nan).astype(dtype, copy=False)
    return values


def valid_mask(arr: pa.Array) -> np.ndarray:
    """Bool ndarray, True where ``arr`` is not null. Stands in for
    ``np.asarray(arr.is_valid())``."""
    bitmap = arr.buffers()[0]
    if not arr.null_count or bitmap is None:
        return np.ones(len(arr), dtype=bool)
    bits = np.unpackbits(np.frombuffer(bitmap, dtype=np.uint8), bitorder="little")
    return bits[arr.offset : arr.offset + len(arr)].astype(bool)
