"""The worker-side Arrow column helper (``mistral_ocr_spark.arrowcols``):
each builder equals ``pa.array`` on the same values, the reader equals
``to_numpy`` on sliced arrays, and 32-bit offsets raise instead of wrapping.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mistral_ocr_spark import arrowcols as C

_texts = st.text(alphabet=st.characters(codec="utf-8"), max_size=12)
_null_lists = st.sampled_from([[], [None], [None] * 9])


@given(st.lists(st.none() | _texts, max_size=40) | _null_lists)
@settings(max_examples=200, deadline=None)
def test_strings_equal_pa_array(values):
    got = C.strings(values)
    got.validate(full=True)
    assert got.equals(pa.array(values, pa.string()))


@given(st.lists(st.none() | st.binary(max_size=12), max_size=40) | _null_lists)
@settings(max_examples=200, deadline=None)
def test_binaries_equal_pa_array(values):
    got = C.binaries(values)
    got.validate(full=True)
    assert got.equals(pa.array(values, pa.binary()))


_INT_TYPES = [
    (pa.int8(), 7),
    (pa.int16(), 15),
    (pa.int32(), 31),
    (pa.int64(), 63),
    (pa.uint8(), None),
    (pa.uint32(), None),
]


@pytest.mark.parametrize("type, bits", _INT_TYPES, ids=str)
@given(data=st.data())
@settings(max_examples=60, deadline=None)
def test_numbers_equal_pa_array(type, bits, data):
    lo, hi = (-(1 << bits), (1 << bits) - 1) if bits else (0, (1 << type.bit_width) - 1)
    values = data.draw(
        st.lists(st.none() | st.integers(lo, hi), max_size=40) | _null_lists
    )
    got = C.numbers(values, type)
    got.validate(full=True)
    assert got.equals(pa.array(values, type))
    if None not in values:
        arr = np.array(values, dtype=C._np_dtype(type))
        assert C.numbers(arr, type).equals(pa.array(values, type))


@given(st.lists(st.none() | st.floats(allow_nan=False), max_size=40))
@settings(max_examples=60, deadline=None)
def test_floats_and_bools_equal_pa_array(values):
    assert C.numbers(values, pa.float64()).equals(pa.array(values, pa.float64()))
    flags = [None if v is None else v > 0 for v in values]
    assert C.bools(flags).equals(pa.array(flags, pa.bool_()))
    if None not in flags:
        assert C.bools(np.array(flags, dtype=bool)).equals(pa.array(flags, pa.bool_()))


def test_timestamps_equal_pa_array():
    import datetime as dt

    stamps = [dt.datetime(2024, 1, 1, 10, 0, 0), None, dt.datetime(1969, 12, 31, 23, 59, 59, 7)]
    us = [None if t is None else (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
          for t in stamps]
    assert C.numbers(us, pa.timestamp("us")).equals(pa.array(stamps, pa.timestamp("us")))


def test_numbers_raise_rather_than_wrap():
    with pytest.raises(OverflowError):
        C.numbers([1 << 31], pa.int32())
    with pytest.raises(OverflowError):
        C.numbers([-1], pa.uint8())


@pytest.mark.parametrize(
    "type", [pa.int32(), pa.int64(), pa.float64(), pa.uint16(), pa.int8()], ids=str
)
@given(data=st.data())
@settings(max_examples=40, deadline=None)
def test_view_equals_to_numpy_on_slices(type, data):
    n = data.draw(st.integers(0, 50))
    full = pa.array(np.arange(n).astype(C._np_dtype(type)), type)
    start = data.draw(st.integers(0, n))
    length = data.draw(st.integers(0, n - start))
    part = full.slice(start, length)
    got = C.view(part)
    assert got.dtype == part.to_numpy().dtype
    assert np.array_equal(got, part.to_numpy())


def test_view_of_list_offsets_and_struct_fields():
    lists = pa.array([[1, 2], [], [3], None, [4, 5, 6]], pa.list_(pa.int64())).slice(1, 4)
    assert np.array_equal(C.view(lists.offsets), lists.offsets.to_numpy())
    structs = pa.array(
        [{"a": i, "b": i / 2} for i in range(6)], pa.struct([("a", pa.int32()), ("b", pa.float64())])
    ).slice(2, 3)
    assert np.array_equal(C.view(structs.field("a")), [2, 3, 4])
    assert np.array_equal(C.view(structs.field("b")), [1.0, 1.5, 2.0])


def test_view_of_nulls_is_to_numpy_for_floats_and_refused_for_ints():
    floats = pa.array([1.5, None, 3.0, None], pa.float64()).slice(1)
    assert np.array_equal(C.view(floats), floats.to_numpy(zero_copy_only=False), equal_nan=True)
    with pytest.raises(ValueError):
        C.view(pa.array([1, None], pa.int64()))
    with pytest.raises(TypeError):
        C.view(pa.array(["a"], pa.string()))


@given(st.lists(st.none() | st.integers(0, 9), max_size=40), st.data())
@settings(max_examples=60, deadline=None)
def test_valid_mask_equals_is_valid_on_slices(values, data):
    arr = pa.array(values, pa.int64())
    start = data.draw(st.integers(0, len(values)))
    part = arr.slice(start)
    assert C.valid_mask(part).tolist() == part.is_valid().to_pylist()


def test_offsets_past_int32_raise_without_the_data():
    """The running sum is int64, so 2 × 2**30 bytes raises before any data
    buffer exists; an int32 cumsum would wrap to a negative offset."""
    assert C.offsets(np.array([C.MAX_OFFSET], dtype=np.int64))[-1] == C.MAX_OFFSET
    with pytest.raises(OverflowError):
        C.offsets(np.array([1 << 30, 1 << 30], dtype=np.int64))
    with pytest.raises(OverflowError):
        C.offsets([C.MAX_OFFSET, 1])
    assert C.offsets([]).tolist() == [0]
    assert C.offsets([2, 0, 3]).dtype == np.int32
