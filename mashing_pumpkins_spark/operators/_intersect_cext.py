"""Self-compiled C kernel for batched sorted-set intersection counts.

The verify stage's per-pair cost is |A∩B| over two sorted-unique uint64
sketch arrays. The numpy form (`np.intersect1d(assume_unique=True)`)
concatenates and SORTS per pair — O((la+lb) log(la+lb)) plus ~4.4 µs of
Python/numpy call overhead per pair (round-3 measurement,
operators/verify.py docstring). Sketch arrays are already sorted in
unsigned order by construction (functions/sketch_np.bottomk/topk), so a
scalar C two-pointer merge touches each element once with zero per-pair
Python work: one ctypes call scores a whole Arrow batch.

One entry point, `intersect_counts_indexed`: pairs (ia[p], ib[p]) of rows
of ONE shared (values, starts, lens) layout — the layout
operators/signature.list_layout reads out of an Arrow list column. Its
only caller is operators/verify._jaccard, which scores every Jaccard in
the package (the broadcast scan over the collected slice, and the join
path's Arrow UDF over both signature columns laid out as one buffer).

Same escape-hatch pattern as operators/_jpeg_cext.py / _png_cext.py /
hashkernels/_hash_cext.py: dependency-free C99 compiled on first use via
_cext_build, ctypes, and a None fallback that keeps the numpy path —
results bit-identical either way. Kill switch: MP_SPARK_INTERSECT_CEXT=0.

Correctness on arbitrary inputs: the merge requires sorted-unique arrays,
so `_jaccard` pairs the kernel with `violating_rows()` — a vectorized scan
that flags every array with a non-increasing adjacent pair (unsorted OR
duplicate values); verify computes it once per broadcast slice
(_collect_slice_flat) or per UDF batch — and re-scores flagged rows with
np.intersect1d. For sketch-shaped inputs the flag set is empty and the
whole batch stays in C; for adversarial inputs behavior degrades to
exactly the numpy semantics.
"""

from __future__ import annotations

import ctypes

import numpy as np

from .._cext_build import kernel_loader

_C_SOURCE = r"""
#include <stdint.h>

/* Per-pair sorted-merge intersection counts over one shared value buffer.
   Arrays i occupy vals[starts[i] .. starts[i]+lens[i]) and must be sorted
   ascending (unsigned) with distinct values; ia/ib < 0 means "missing"
   (count 0). */
void intersect_count_indexed(
    const uint64_t *vals, const int64_t *starts, const int64_t *lens,
    const int64_t *ia, const int64_t *ib, int64_t n, int64_t *out)
{
    for (int64_t p = 0; p < n; p++) {
        int64_t i = ia[p], j = ib[p];
        if (i < 0 || j < 0) { out[p] = 0; continue; }
        const uint64_t *a = vals + starts[i];
        const uint64_t *b = vals + starts[j];
        int64_t la = lens[i], lb = lens[j];
        int64_t x = 0, y = 0, c = 0;
        while (x < la && y < lb) {
            uint64_t av = a[x], bv = b[y];
            c += (av == bv);
            x += (av <= bv);
            y += (bv <= av);
        }
        out[p] = c;
    }
}

"""


def _bind(lib: ctypes.CDLL) -> None:
    p_u64 = ctypes.POINTER(ctypes.c_uint64)
    p_i64 = ctypes.POINTER(ctypes.c_int64)
    lib.intersect_count_indexed.argtypes = [
        p_u64, p_i64, p_i64, p_i64, p_i64, ctypes.c_int64, p_i64,
    ]
    lib.intersect_count_indexed.restype = None


load = kernel_loader(_C_SOURCE, "intersect", "MP_SPARK_INTERSECT_CEXT", _bind)


def _p(arr: np.ndarray, typ):
    return arr.ctypes.data_as(ctypes.POINTER(typ))


def _as_u64(vals: np.ndarray) -> np.ndarray:
    """Contiguous uint64 view of an int64/uint64 value buffer (no copy when
    already contiguous; bit pattern preserved either way)."""
    a = np.ascontiguousarray(vals)
    return a.view(np.uint64) if a.dtype != np.uint64 else a


def violating_rows(
    vals: np.ndarray, starts: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Indices of arrays with any non-increasing adjacent pair in unsigned
    order (unsorted or duplicate values) — the rows the C merge may not
    score. Vectorized: one diff over the flat buffer, boundary positions
    masked out via searchsorted attribution. ``starts`` must be
    nondecreasing (arrays laid out in order, as list_layout returns them)."""
    u = _as_u64(vals)
    if u.shape[0] < 2:
        return np.empty(0, dtype=np.int64)
    bad_pos = np.nonzero(u[1:] <= u[:-1])[0]  # position p: pair (p, p+1)
    if bad_pos.shape[0] == 0:
        return np.empty(0, dtype=np.int64)
    ends = starts + lens
    # pair (p, p+1) lies inside array i iff starts[i] <= p and p+1 < ends[i]
    owner = np.searchsorted(starts, bad_pos, side="right") - 1
    inside = (owner >= 0) & (bad_pos + 1 < ends[owner])
    return np.unique(owner[inside])


def intersect_counts_indexed(
    vals: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    ia: np.ndarray,
    ib: np.ndarray,
) -> "np.ndarray | None":
    """Counts for pairs (ia[p], ib[p]) into ``vals``; None when the C
    kernel is unavailable. Caller must route `violating_rows` through the
    numpy fallback."""
    lib = load()
    if lib is None:
        return None
    n = ia.shape[0]
    out = np.empty(n, dtype=np.int64)
    if n:
        lib.intersect_count_indexed(
            _p(_as_u64(vals), ctypes.c_uint64),
            _p(np.ascontiguousarray(starts, dtype=np.int64), ctypes.c_int64),
            _p(np.ascontiguousarray(lens, dtype=np.int64), ctypes.c_int64),
            _p(np.ascontiguousarray(ia, dtype=np.int64), ctypes.c_int64),
            _p(np.ascontiguousarray(ib, dtype=np.int64), ctypes.c_int64),
            n,
            _p(out, ctypes.c_int64),
        )
    return out

