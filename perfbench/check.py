"""Order-insensitive row-count + value-hash comparison of relations.

A relation's digest is its row count and the sum, modulo 2**64, of a
64-bit hash of each normalized row: equal multisets of rows give equal
digests whatever order an engine emits them in. Values are normalized
first so that the same row read through Spark, pandas, DuckDB or built in
Python hashes alike (dates and timestamps to ISO text, NaN and None to
a sentinel, numpy scalars to Python ones, decimals to their normalized
text). Floats compare exactly, as the registry's oracle contract asks.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy

_MASK = (1 << 64) - 1


def norm(v):
    if v is None:
        return None
    if isinstance(v, numpy.generic):
        v = v.item()
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, datetime.timedelta):
        return v.total_seconds()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, numpy.ndarray)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def row_hash(row) -> int:
    text = repr(tuple(norm(v) for v in row)).encode("utf8")
    return int.from_bytes(hashlib.blake2b(text, digest_size=8).digest(), "little")


def relation_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive 64-bit hash as hex) of an iterable of rows."""
    n = 0
    acc = 0
    for r in rows:
        n += 1
        acc = (acc + row_hash(r)) & _MASK
    return n, f"{acc:016x}"


def parquet_rows(path: str, columns: list[str] | None = None) -> list[tuple]:
    """Rows of a parquet file or directory as written by Spark, read with
    pyarrow: checking an output this way runs no Spark job."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=columns)
    return list(zip(*(col.to_pylist() for col in table.columns)))


def spark_digest(df, by_name: bool = False) -> tuple[int, str]:
    """Digest of a Spark DataFrame's collected rows; ``by_name`` orders the
    columns by name first, for comparison with another engine's output."""
    if by_name:
        df = df.select(*sorted(df.columns))
    return relation_digest(df.collect())


class CheckFailed(AssertionError):
    """An output of the program differs from its expected value."""


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")
