"""Self-compiled C kernel for the sliding-hash + bottom-k sketch hot loop.

The pure-numpy sliding kernels (hashkernels/xxh64.py, mmh3.py) are the
measured compute ceiling of the whole sketch pipeline: every algorithm step
is one vector op over all window lanes, which costs ~25 full-array memory
passes per window width at 64 bits per lane — a few MB/s-core on this
class of host. The same loop in scalar C touches each window once with
register-resident state, which measures two orders of magnitude faster.

This module mirrors the proven `operators/_jpeg_cext.py` escape-hatch
pattern: ~150 lines of dependency-free C99 (canonical XXH64 and
MurmurHash3-x64-128 per their public specifications, plus an LSD radix
sort for the per-document distinct-bottom-k step), compiled on first use
with the host cc into a content-addressed .so and loaded via ctypes.

Every fallible step (no compiler, compile error, load error) degrades to
None and callers fall back to the numpy kernels — results are bit
identical either way (the golden-vector suites in tests/test_hashkernels.py
run against whichever path loads), only throughput changes. Kill switch:
MP_SPARK_HASH_CEXT=0.
"""

from __future__ import annotations

import ctypes

import numpy as np

from .._cext_build import kernel_loader

_C_SOURCE = r"""
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

static inline uint64_t rotl64(uint64_t x, int r) {
    return (x << r) | (x >> (64 - r));
}

static inline uint64_t rd64(const uint8_t *p) {
    uint64_t v;
    memcpy(&v, p, 8);
    return v; /* little-endian hosts only; matches the numpy '<u8' view */
}

static inline uint32_t rd32(const uint8_t *p) {
    uint32_t v;
    memcpy(&v, p, 4);
    return v;
}

/* ---- XXH64 (public spec; bit-identical to hashkernels/xxh64.py) ---- */

#define XP1 11400714785074694791ULL
#define XP2 14029467366897019727ULL
#define XP3 1609587929392839161ULL
#define XP4 9650029242287828579ULL
#define XP5 2870177450012600261ULL

static inline uint64_t xxh64_one(const uint8_t *p, size_t len, uint64_t seed) {
    const uint8_t *end = p + len;
    uint64_t h;
    if (len >= 32) {
        uint64_t v1 = seed + XP1 + XP2;
        uint64_t v2 = seed + XP2;
        uint64_t v3 = seed;
        uint64_t v4 = seed - XP1;
        const uint8_t *limit = end - 32;
        do {
            v1 = rotl64(v1 + rd64(p) * XP2, 31) * XP1; p += 8;
            v2 = rotl64(v2 + rd64(p) * XP2, 31) * XP1; p += 8;
            v3 = rotl64(v3 + rd64(p) * XP2, 31) * XP1; p += 8;
            v4 = rotl64(v4 + rd64(p) * XP2, 31) * XP1; p += 8;
        } while (p <= limit);
        h = rotl64(v1, 1) + rotl64(v2, 7) + rotl64(v3, 12) + rotl64(v4, 18);
        h ^= rotl64(v1 * XP2, 31) * XP1; h = h * XP1 + XP4;
        h ^= rotl64(v2 * XP2, 31) * XP1; h = h * XP1 + XP4;
        h ^= rotl64(v3 * XP2, 31) * XP1; h = h * XP1 + XP4;
        h ^= rotl64(v4 * XP2, 31) * XP1; h = h * XP1 + XP4;
    } else {
        h = seed + XP5;
    }
    h += (uint64_t)len;
    while (p + 8 <= end) {
        h ^= rotl64(rd64(p) * XP2, 31) * XP1;
        h = rotl64(h, 27) * XP1 + XP4;
        p += 8;
    }
    if (p + 4 <= end) {
        h ^= (uint64_t)rd32(p) * XP1;
        h = rotl64(h, 23) * XP2 + XP3;
        p += 4;
    }
    while (p < end) {
        h ^= (uint64_t)(*p) * XP5;
        h = rotl64(h, 11) * XP1;
        p++;
    }
    h ^= h >> 33;
    h *= XP2;
    h ^= h >> 29;
    h *= XP3;
    h ^= h >> 32;
    return h;
}

/* ---- MurmurHash3 x64 128, low 64 bits (public spec; bit-identical to
   hashkernels/mmh3.py) ---- */

#define MC1 0x87C37B91114253D5ULL
#define MC2 0x4CF5AD432745937FULL

static inline uint64_t fmix64(uint64_t k) {
    k ^= k >> 33;
    k *= 0xFF51AFD7ED558CCDULL;
    k ^= k >> 33;
    k *= 0xC4CEB9FE1A85EC53ULL;
    k ^= k >> 33;
    return k;
}

static inline uint64_t mmh3_low64_one(const uint8_t *data, size_t n, uint32_t seed) {
    uint64_t h1 = seed, h2 = seed;
    size_t nblocks = n / 16;
    size_t i;
    for (i = 0; i < nblocks; i++) {
        uint64_t k1 = rd64(data + 16 * i);
        uint64_t k2 = rd64(data + 16 * i + 8);
        k1 *= MC1; k1 = rotl64(k1, 31); k1 *= MC2; h1 ^= k1;
        h1 = rotl64(h1, 27) + h2; h1 = h1 * 5 + 0x52DCE729ULL;
        k2 *= MC2; k2 = rotl64(k2, 33); k2 *= MC1; h2 ^= k2;
        h2 = rotl64(h2, 31) + h1; h2 = h2 * 5 + 0x38495AB5ULL;
    }
    {
        const uint8_t *tail = data + nblocks * 16;
        size_t tlen = n & 15;
        uint64_t k1 = 0, k2 = 0;
        size_t j;
        if (tlen > 8) {
            for (j = 8; j < tlen; j++)
                k2 ^= (uint64_t)tail[j] << (8 * (j - 8));
            k2 *= MC2; k2 = rotl64(k2, 33); k2 *= MC1; h2 ^= k2;
        }
        if (tlen > 0) {
            size_t lim = tlen < 8 ? tlen : 8;
            for (j = 0; j < lim; j++)
                k1 ^= (uint64_t)tail[j] << (8 * j);
            k1 *= MC1; k1 = rotl64(k1, 31); k1 *= MC2; h1 ^= k1;
        }
    }
    h1 ^= (uint64_t)n;
    h2 ^= (uint64_t)n;
    h1 += h2;
    h2 += h1;
    h1 = fmix64(h1);
    h2 = fmix64(h2);
    h1 += h2;
    return h1;
}

/* ---- sliding-window entry points ---- */

void mp_xxh64_sliding(const uint8_t *buf, long n, int width, uint64_t seed,
                      uint64_t *out) {
    long m = n - width + 1;
    long i;
    for (i = 0; i < m; i++)
        out[i] = xxh64_one(buf + i, (size_t)width, seed);
}

void mp_mmh3_low64_sliding(const uint8_t *buf, long n, int width,
                           uint32_t seed, uint64_t *out) {
    long m = n - width + 1;
    long i;
    for (i = 0; i < m; i++)
        out[i] = mmh3_low64_one(buf + i, (size_t)width, seed);
}

/* ---- winnowing minimizer selection ----

   Mark position i iff h[i] is the LEFTMOST minimum of at least one
   window of w consecutive values — exactly
   unique(argmin(sliding_window_view(h, w), axis=1) + arange(m-w+1)).
   Monotonic deque (pop strictly-greater from the back, so equal values
   keep their earlier index in front = leftmost tie rule), O(m) instead
   of the numpy view's O(m*w). deque must hold w indices. */
void mp_minimizers(const uint64_t *h, long m, long w, int64_t *deque,
                   uint8_t *out_flags) {
    long head = 0, tail = 0; /* deque[head..tail) */
    long i;
    for (i = 0; i < m; i++)
        out_flags[i] = 0;
    for (i = 0; i < m; i++) {
        while (tail > head && h[deque[tail - 1]] > h[i])
            tail--;
        deque[tail++] = i;
        if (deque[head] <= i - w)
            head++;
        if (i >= w - 1)
            out_flags[deque[head]] = 1;
    }
}

/* ---- fused sketch: per-document sliding hash + distinct bottom/top-k ----

   Exactly functions/sketch_np.signatures_from_buffer for canonical="none":
   for doc i with w_i = lens[i]-nsize+1 windows, the sketch is the k
   smallest (minmax=0) or largest (minmax=1) DISTINCT window hashes in
   ascending unsigned order. out_flat receives the sketches compacted;
   out_offsets (ndocs+1 int64) receives the flat boundaries. Returns 0, or
   -1 on allocation failure. */

static void radix_sort_u64(uint64_t *a, uint64_t *tmp, long n) {
    long cnt[256];
    int pass;
    for (pass = 0; pass < 8; pass++) {
        int shift = pass * 8;
        long i, pos = 0;
        uint64_t *sw;
        memset(cnt, 0, sizeof(cnt));
        for (i = 0; i < n; i++) cnt[(a[i] >> shift) & 0xFF]++;
        for (i = 0; i < 256; i++) { long c = cnt[i]; cnt[i] = pos; pos += c; }
        for (i = 0; i < n; i++) tmp[cnt[(a[i] >> shift) & 0xFF]++] = a[i];
        sw = a; a = tmp; tmp = sw;
    }
    /* 8 passes: result lands back in the caller's 'a' */
}

/* ---- banding: per-document multiply-shift minima ----

   For each document d (values[starts[d] .. starts[d]+lens[d])) and each
   band component j: out[d*m + j] = min over the document's values v of
   (v * a[j] + b[j]) mod 2^64. The numpy formulation materializes m
   full-length product arrays per batch (~m passes of memory traffic);
   here each document's <= k values stay L1-resident while the m
   components accumulate in one cache-hot block. */
void mp_band_minima(const uint64_t *values, const int64_t *starts,
                    const int64_t *lens, long ndocs, const uint64_t *a,
                    const uint64_t *b, long m, uint64_t *out) {
    long d, i, j;
    for (d = 0; d < ndocs; d++) {
        const uint64_t *v = values + starts[d];
        long k = lens[d];
        uint64_t *o = out + d * m;
        for (j = 0; j < m; j++)
            o[j] = (uint64_t)-1;
        for (i = 0; i < k; i++) {
            uint64_t vi = v[i];
            for (j = 0; j < m; j++) {
                uint64_t y = vi * a[j] + b[j];
                if (y < o[j])
                    o[j] = y;
            }
        }
    }
}

int mp_sketch_from_buffer(const uint8_t *buf, long n,
                          const int64_t *starts, const int64_t *lens,
                          long ndocs, int nsize, uint64_t seed, long k,
                          int minmax, int hash_kind,
                          int64_t *out_flat, int64_t *out_offsets) {
    long max_w = 0, d;
    uint64_t *scratch, *tmp;
    long out_pos = 0;
    (void)n;
    for (d = 0; d < ndocs; d++) {
        long w = lens[d] - nsize + 1;
        if (w > max_w) max_w = w;
    }
    if (max_w <= 0) {
        for (d = 0; d <= ndocs; d++) out_offsets[d] = 0;
        return 0;
    }
    scratch = (uint64_t *)malloc((size_t)max_w * 2 * sizeof(uint64_t));
    if (!scratch) return -1;
    tmp = scratch + max_w;
    out_offsets[0] = 0;
    for (d = 0; d < ndocs; d++) {
        long w = lens[d] - nsize + 1;
        long i, nd = 0;
        const uint8_t *p;
        if (w <= 0 || k <= 0) {
            out_offsets[d + 1] = out_pos;
            continue;
        }
        p = buf + starts[d];
        if (hash_kind == 0)
            for (i = 0; i < w; i++)
                scratch[i] = xxh64_one(p + i, (size_t)nsize, seed);
        else
            for (i = 0; i < w; i++)
                scratch[i] = mmh3_low64_one(p + i, (size_t)nsize, (uint32_t)seed);
        radix_sort_u64(scratch, tmp, w);
        /* distinct scan; for bottom-k stop after k distinct */
        if (minmax == 0) {
            uint64_t prev = scratch[0];
            out_flat[out_pos + nd++] = (int64_t)prev;
            for (i = 1; i < w && nd < k; i++) {
                if (scratch[i] != prev) {
                    prev = scratch[i];
                    out_flat[out_pos + nd++] = (int64_t)prev;
                }
            }
        } else {
            /* top-k: collect ALL distinct into tmp, then copy last k */
            uint64_t prev = scratch[0];
            long total = 0, takeoff;
            tmp[total++] = prev;
            for (i = 1; i < w; i++) {
                if (scratch[i] != prev) {
                    prev = scratch[i];
                    tmp[total++] = prev;
                }
            }
            takeoff = total > k ? total - k : 0;
            for (i = takeoff; i < total; i++)
                out_flat[out_pos + nd++] = (int64_t)tmp[i];
        }
        out_pos += nd;
        out_offsets[d + 1] = out_pos;
    }
    free(scratch);
    return 0;
}
"""


def _bind(lib: ctypes.CDLL) -> None:
    u8p = ctypes.POINTER(ctypes.c_uint8)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    lib.mp_xxh64_sliding.restype = None
    lib.mp_xxh64_sliding.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, ctypes.c_uint64, u64p,
    ]
    lib.mp_mmh3_low64_sliding.restype = None
    lib.mp_mmh3_low64_sliding.argtypes = [
        u8p, ctypes.c_long, ctypes.c_int, ctypes.c_uint32, u64p,
    ]
    lib.mp_sketch_from_buffer.restype = ctypes.c_int
    lib.mp_sketch_from_buffer.argtypes = [
        u8p, ctypes.c_long, i64p, i64p, ctypes.c_long, ctypes.c_int,
        ctypes.c_uint64, ctypes.c_long, ctypes.c_int, ctypes.c_int,
        i64p, i64p,
    ]
    lib.mp_band_minima.restype = None
    lib.mp_band_minima.argtypes = [
        u64p, i64p, i64p, ctypes.c_long, u64p, u64p, ctypes.c_long, u64p,
    ]
    lib.mp_minimizers.restype = None
    lib.mp_minimizers.argtypes = [
        u64p, ctypes.c_long, ctypes.c_long, i64p, u8p,
    ]


load = kernel_loader(_C_SOURCE, "hash_cext", "MP_SPARK_HASH_CEXT", _bind)


def _as_u8_ptr(arr: np.ndarray):
    return arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))


def xxh64_sliding_c(buf: np.ndarray, width: int, seed: int) -> "np.ndarray | None":
    """C fast path for xxh64_sliding; None when the kernel is unavailable.
    Caller has validated 0 < width <= len(buf) and buf is uint8."""
    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf)
    m = buf.shape[0] - width + 1
    out = np.empty(m, dtype=np.uint64)
    lib.mp_xxh64_sliding(
        _as_u8_ptr(buf),
        ctypes.c_long(buf.shape[0]),
        ctypes.c_int(width),
        ctypes.c_uint64(seed & 0xFFFFFFFFFFFFFFFF),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def mmh3_low64_sliding_c(buf: np.ndarray, width: int, seed: int) -> "np.ndarray | None":
    """C fast path for mmh3_x64_128_low64_sliding; None when unavailable."""
    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf)
    m = buf.shape[0] - width + 1
    out = np.empty(m, dtype=np.uint64)
    lib.mp_mmh3_low64_sliding(
        _as_u8_ptr(buf),
        ctypes.c_long(buf.shape[0]),
        ctypes.c_int(width),
        ctypes.c_uint32(seed & 0xFFFFFFFF),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
    )
    return out


def band_minima_c(
    values: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    a: np.ndarray,
    b: np.ndarray,
) -> "np.ndarray | None":
    """Per-document multiply-shift minima: (ndocs, m) uint64 of
    min(v * a[j] + b[j]) over each document's value slice, or None when
    the kernel is unavailable. Wrap-around arithmetic identical to the
    numpy uint64 formulation."""
    lib = load()
    if lib is None:
        return None
    values = np.ascontiguousarray(values, dtype=np.uint64)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    a = np.ascontiguousarray(a, dtype=np.uint64)
    b = np.ascontiguousarray(b, dtype=np.uint64)
    ndocs = lens.shape[0]
    m = a.shape[0]
    out = np.empty((ndocs, m), dtype=np.uint64)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    lib.mp_band_minima(
        values.ctypes.data_as(u64p),
        starts.ctypes.data_as(i64p),
        lens.ctypes.data_as(i64p),
        ctypes.c_long(ndocs),
        a.ctypes.data_as(u64p),
        b.ctypes.data_as(u64p),
        ctypes.c_long(m),
        out.ctypes.data_as(u64p),
    )
    return out


def minimizer_positions_c(h: np.ndarray, w: int) -> "np.ndarray | None":
    """Winnowing minimizer positions of hash array ``h`` at window ``w``
    (sorted unique leftmost-window-argmin indices), or None when the
    kernel is unavailable. Identical to the numpy sliding-view argmin."""
    lib = load()
    if lib is None:
        return None
    h = np.ascontiguousarray(h, dtype=np.uint64)
    m = h.shape[0]
    flags = np.empty(m, dtype=np.uint8)
    deque = np.empty(m + 1, dtype=np.int64)
    lib.mp_minimizers(
        h.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
        ctypes.c_long(m),
        ctypes.c_long(w),
        deque.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
        flags.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
    )
    return np.flatnonzero(flags).astype(np.int64)


_HASH_KIND = {"xxh64": 0, "mmh3_x64_128_low64": 1}


def sketch_from_buffer_c(
    buf: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    nsize: int,
    seed: int,
    k: int,
    minmax: str,
    hash_name: str,
) -> "tuple[np.ndarray, np.ndarray] | None":
    """Fused per-document sliding-hash + distinct bottom/top-k.

    Returns (flat int64 signature values, int64 offsets[ndocs+1]) exactly
    matching the numpy signatures_from_buffer sketch content, or None when
    the C kernel is unavailable or the config needs the numpy path."""
    kind = _HASH_KIND.get(hash_name)
    if kind is None or k <= 0:
        return None
    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    ndocs = lens.shape[0]
    windows = np.maximum(lens - nsize + 1, 0)
    cap = int(np.minimum(windows, k).sum())
    out_flat = np.empty(cap, dtype=np.int64)
    out_offsets = np.empty(ndocs + 1, dtype=np.int64)
    i64p = ctypes.POINTER(ctypes.c_int64)
    rc = lib.mp_sketch_from_buffer(
        _as_u8_ptr(buf),
        ctypes.c_long(buf.shape[0]),
        starts.ctypes.data_as(i64p),
        lens.ctypes.data_as(i64p),
        ctypes.c_long(ndocs),
        ctypes.c_int(nsize),
        ctypes.c_uint64(seed & 0xFFFFFFFFFFFFFFFF),
        ctypes.c_long(k),
        ctypes.c_int(0 if minmax == "min" else 1),
        ctypes.c_int(kind),
        out_flat.ctypes.data_as(i64p),
        out_offsets.ctypes.data_as(i64p),
    )
    if rc != 0:
        return None
    return out_flat[: int(out_offsets[-1])], out_offsets
