"""uint64 <-> signed bigint helpers.

Spark's ``bigint`` is signed; the reference's hash values are unsigned 64-bit
(``array('Q')`` buffers, itemsize check at /root/reference/src/_xxhash.c:37-42).
We store the *bit pattern* of the uint64 in a bigint and do all ordering
either in numpy uint64 space or, SQL-side, on the sign-bit-flipped value
(``h XOR -2^63``), which maps unsigned order onto signed order.
"""

from __future__ import annotations

import numpy as np

MASK64 = (1 << 64) - 1
SIGN_BIT = 1 << 63


def u64_to_i64(values: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 bit patterns as signed int64 (for Spark bigint)."""
    return np.asarray(values, dtype=np.uint64).view(np.int64)


def i64_to_u64(values: np.ndarray) -> np.ndarray:
    """Reinterpret signed int64 (Spark bigint) back to uint64."""
    return np.asarray(values, dtype=np.int64).view(np.uint64)


def py_u64_to_i64(value: int) -> int:
    """Python-int version: uint64 bit pattern -> signed two's complement."""
    value &= MASK64
    return value - (1 << 64) if value >= SIGN_BIT else value


def py_i64_to_u64(value: int) -> int:
    return value & MASK64

