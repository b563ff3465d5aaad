"""The Arrow boundary of the row-wise Python stages (decode, rebuild,
INSERT expansion, polygon area refine), all run as ``mapInArrow``.

Every output ``RecordBatch`` is assembled here, under three rules:
string columns are built straight from bytes with int32 offsets that
cannot wrap, ``None`` becomes a null, and no output buffer references
the input batch (its memory belongs to the IPC reader).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Arrow's string type stores int32 value offsets: one array holds at most
# this many bytes
STRING_ARRAY_MAX_BYTES = 2**31 - 1


def arrow_schema(schema: T.StructType) -> pa.Schema:
    """The pyarrow schema Spark expects back for a mapInArrow ``schema``.
    Strings stay ``string`` (int32 offsets), the type bytes_string_array
    builds."""
    return to_arrow_schema(schema, prefers_large_types=False)


def bytes_string_array(vals: list) -> pa.StringArray:
    """Arrow string array from a list of utf-8 bytes objects, assembled
    via from_buffers (no per-value Python str, no re-validation — the
    bytes came from a validated Arrow string column or a JSON encoder).
    ``None`` becomes a null through a validity bitmap, built only when a
    ``None`` is present. Raises ValueError rather than wrap the int32
    offsets when the values total more than STRING_ARRAY_MAX_BYTES."""
    n = len(vals)
    validity, null_count = None, 0
    if None in vals:
        valid = np.fromiter((v is not None for v in vals), dtype=bool, count=n)
        validity = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
        null_count = n - int(valid.sum())
        vals = [b"" if v is None else v for v in vals]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum([len(v) for v in vals], out=offs[1:])
    if offs[-1] > STRING_ARRAY_MAX_BYTES:
        raise ValueError(
            f"{offs[-1]} bytes of strings in one Arrow batch exceed the int32 "
            f"offset limit of {STRING_ARRAY_MAX_BYTES} bytes; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch")
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offs.astype(np.int32).tobytes()),
        pa.py_buffer(b"".join(vals)), validity, null_count)


def owned(data, rows=None):
    """``data`` (an Array or a RecordBatch), or only its ``rows``, copied
    into fresh buffers: take always allocates its output."""
    idx = np.arange(len(data)) if rows is None else rows
    return data.take(pa.array(idx, pa.int64()))


def from_rows(schema: pa.Schema, rows: list, **arrays) -> pa.RecordBatch:
    """Column-wise assembly of a batch. ``arrays`` gives finished columns
    by name; ``rows`` holds one tuple per row over the remaining fields,
    in schema order, each converted with its field's type. ``rows`` may
    be empty only when ``arrays`` covers every field."""
    cols = iter(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [arrays[f.name] if f.name in arrays else pa.array(next(cols), f.type)
         for f in schema], schema=schema)
