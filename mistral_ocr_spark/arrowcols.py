"""The bridge between Python values and Arrow columns inside a Python worker.

Every ``mapInArrow`` kernel builds its output columns and reads its numeric
input columns through this module, and through nothing else. The reason is
pandas: pyarrow 16 imports it the first time a process calls ``pa.array``,
``pa.scalar`` or ``Array.to_numpy`` (its pandas shim asks whether the input
is a pandas object, or hands the conversion to pandas). No Arrow kernel
uses pandas, yet that import costs a worker ~0.29 s of CPU and ~35 MB of
resident memory on its first batch.

The functions here touch only numpy, which ``pyspark.worker`` already
imports, plus ``pa.py_buffer`` and the ``from_buffers`` / ``from_arrays``
constructors:

- build: ``strings`` / ``binaries`` / ``numbers`` / ``bools`` from Python
  lists (``None`` is a null) or numpy arrays;
- build: ``lists`` wraps a child column into a ``list`` column, and
  ``batch`` is one output batch of a kernel, each column built by the type
  the kernel's declared Spark schema gives it;
- read: ``view`` is a zero-copy numpy view of a numeric array,
  ``valid_mask`` is an array's validity as a bool ndarray, and ``matrix``
  is a column of equal-length vectors as one float64 matrix.

String and binary columns are read with ``Array.to_pylist``, which does
not import pandas either. Every Python kernel of the package is a
``mapInArrow`` kernel over this module; the one exception is the streaming
state store, as ``applyInPandasWithState`` has no Arrow form.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Sequence

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


def lists(counts, child: pa.Array) -> pa.Array:
    """A ``list`` column whose i-th list holds the next ``counts[i]`` items
    of ``child``; no list is null."""
    return pa.ListArray.from_arrays(numbers(offsets(counts), pa.int32()), child)


# the column builder of each Spark type a kernel builds from Python values
_DDL_BUILDERS = {
    "string": strings,
    "binary": binaries,
    "boolean": bools,
    "int": functools.partial(numbers, type=pa.int32()),
    "bigint": functools.partial(numbers, type=pa.int64()),
    "long": functools.partial(numbers, type=pa.int64()),
    "double": functools.partial(numbers, type=pa.float64()),
}


@functools.lru_cache(maxsize=None)
def _ddl_fields(ddl: str) -> tuple[tuple[str, str], ...]:
    """(name, type) pairs of a Spark DDL schema string; a comma inside
    ``<>`` or ``()`` belongs to its type."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            name, type = ddl[start:i].split(None, 1)
            fields.append((name, type.strip().lower()))
            start = i + 1
    return tuple(fields)


def batch(schema, columns: Iterable) -> pa.RecordBatch:
    """One output batch of a ``mapInArrow`` kernel. ``schema`` is the
    schema the kernel declares to Spark (a DDL string or a ``StructType``)
    and ``columns`` holds one column per field, in order: an Arrow array
    passes as is; a list or ndarray is built by its field's type."""
    if isinstance(schema, str):
        fields = _ddl_fields(schema)
    else:
        fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    arrays = [
        values if isinstance(values, pa.Array) else _DDL_BUILDERS[type](values)
        for (_, type), values in zip(fields, columns)
    ]
    return pa.RecordBatch.from_arrays(arrays, names=[name for name, _ in fields])


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


def matrix(arr: pa.Array) -> np.ndarray:
    """(rows, dim) float64 matrix of a ``list`` column of numeric vectors,
    sliced arrays included. Raises ``ValueError`` on a null vector, a null
    element or vectors of different lengths, which would otherwise enter
    the math as NaN or as a misshapen matrix."""
    if arr.null_count:
        raise ValueError(f"{arr.null_count} null vectors in {arr.type}")
    offs = view(arr.offsets).astype(np.int64)
    lens = np.diff(offs)
    dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(f"vectors of {dim} and {int(lens[lens != dim][0])} elements")
    flat = arr.values.slice(offs[0], offs[-1] - offs[0])
    if flat.null_count:
        raise ValueError(f"{flat.null_count} null elements in {arr.type} vectors")
    return view(flat).astype(np.float64, copy=False).reshape(len(arr), dim)
