"""The one vector-column boundary (operators/arrowvec.py): ``matrix``,
``list_array`` and ``codes`` without Spark, plus a source scan that
keeps every other module off the per-row decode idiom they replaced."""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from zvdb_spark.operators.arrowvec import codes, list_array, matrix

_ENGINE = pathlib.Path(__file__).resolve().parent.parent / "zvdb_spark"


def _mat(n=5, dim=3, dtype=np.float64):
    return np.arange(n * dim, dtype=dtype).reshape(n, dim) / 7


def test_round_trip_is_bit_identical():
    m = _mat()
    arr = list_array(m)
    assert arr.type == pa.list_(pa.float64())
    assert arr.to_pylist() == m.tolist()
    got = matrix(arr)
    assert got.dtype == np.float64 and got.flags.c_contiguous
    assert got.tobytes() == m.tobytes()


def test_sliced_array_honours_its_offset():
    m = _mat(6)
    sl = list_array(m).slice(2, 3)
    assert sl.offset == 2
    assert np.array_equal(matrix(sl), m[2:5])


def test_float32_source_widens_exactly():
    m32 = _mat(dtype=np.float32)
    arr = list_array(m32)
    assert arr.type == pa.list_(pa.float32())
    got = matrix(arr)
    assert got.dtype == np.float64
    assert np.array_equal(got, m32.astype(np.float64))
    assert matrix(arr, np.float32).tobytes() == m32.tobytes()


def test_chunked_column_concatenates_rows():
    m = _mat(7)
    col = pa.chunked_array([list_array(m[:3]), list_array(m[3:])])
    assert np.array_equal(matrix(col), m)
    assert np.array_equal(matrix(pa.table({"v": col})["v"]), m)


def test_integer_codes_decode_to_the_requested_dtype():
    codes = np.array([[1, 2], [3, 255]], dtype=np.int16)
    got = matrix(list_array(codes), np.int64)
    assert got.dtype == np.int64 and np.array_equal(got, codes)


def test_empty_batch():
    assert matrix(pa.array([], pa.list_(pa.float64()))).shape == (0, 0)
    assert matrix(pa.chunked_array([], pa.list_(pa.float64()))).shape == (0, 0)
    empty = list_array(np.empty((0, 4)))
    assert len(empty) == 0 and empty.type == pa.list_(pa.float64())


@pytest.mark.parametrize(
    "rows, what",
    [
        ([[1.0, 2.0], [3.0]], "ragged"),
        # lengths average to dim: a flat reshape would silently
        # re-cut these into [[1, 2, 3, 4], [5, 6, 7, 8]]
        ([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]], "ragged"),
        ([[1.0, 2.0], None, [3.0, 4.0]], "null"),
        ([[1.0, float("nan")], [3.0, 4.0]], "non-finite"),
        ([[1.0, 2.0], [float("-inf"), 4.0]], "non-finite"),
        ([[1.0, None], [3.0, 4.0]], "non-finite"),
    ],
)
def test_malformed_vectors_raise_naming_the_column(rows, what):
    with pytest.raises(ValueError, match=f"emb: .*{what}"):
        matrix(pa.array(rows, pa.list_(pa.float64())), name="emb")


def _code_column(rows):
    return pa.array([None if r is None else bytes(r) for r in rows],
                    pa.binary())


def test_codes_round_trip_is_a_view():
    c = np.arange(15, dtype=np.uint8).reshape(5, 3)
    col = _code_column(c)
    got = codes(col, 3)
    assert got.dtype == np.uint8 and got.shape == (5, 3)
    assert np.array_equal(got, c)
    assert not got.flags.writeable  # a view of the Arrow data buffer
    assert np.array_equal(codes(pa.chunked_array([col[:2], col[2:]]), 3), c)
    assert codes(_code_column([]), 3).shape == (0, 3)


def test_codes_sliced_array_honours_its_offset():
    c = np.arange(24, dtype=np.uint8).reshape(6, 4)
    sl = _code_column(c).slice(2, 3)
    assert sl.offset == 2
    assert np.array_equal(codes(sl, 4), c[2:5])


@pytest.mark.parametrize(
    "rows, what",
    [
        ([b"abcd", None, b"efgh"], "null"),
        ([b"abcd", b"efg"], "3 to 4 bytes"),
        ([b"abcd", b"efghi"], "4 to 5 bytes"),
        # 3 + 5 bytes: a flat reshape would re-cut these into two
        # 4-byte codes
        ([b"abc", b"defgh"], "3 to 5 bytes"),
    ],
)
def test_malformed_codes_raise_naming_the_column(rows, what):
    with pytest.raises(ValueError, match=f"code: .*{what}"):
        codes(_code_column(rows), 4, name="code")


def _list_of_rows_emits(tree):
    """Line numbers of ``pd.DataFrame(...)`` / ``pd.Series(...)`` calls
    that hold a ``list(<name>)`` — a matrix emitted as per-row arrays."""
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("DataFrame", "Series")):
            for sub in ast.walk(node):
                if (isinstance(sub, ast.Call)
                        and isinstance(sub.func, ast.Name)
                        and sub.func.id == "list"
                        and len(sub.args) == 1
                        and isinstance(sub.args[0], ast.Name)):
                    yield sub.lineno


def test_no_module_decodes_vectors_outside_the_boundary():
    """One module owns the vector layout: no engine file stacks the
    per-row arrays of a column's ``to_numpy()``, emits a matrix as a
    list of rows, or brings back the per-module decode helpers."""
    patterns = {
        "np.stack over a to_numpy()": re.compile(
            r"np\.stack\(\s*[^()]*\.to_numpy\(", re.S
        ),
        "knn._decode": re.compile(r"\bdef _decode\("),
        "pq.sample_matrix": re.compile(r"\bsample_matrix\b"),
        "a joined code buffer": re.compile(r'b""\.join\('),
    }
    hits = []
    for path in sorted(_ENGINE.rglob("*.py")):
        src = path.read_text()
        name = path.relative_to(_ENGINE.parent)
        hits += [f"{name}: {what}" for what, pat in patterns.items()
                 if pat.search(src)]
        hits += [f"{name}:{line}: list-of-rows emit"
                 for line in _list_of_rows_emits(ast.parse(src))]
    assert not hits, hits
