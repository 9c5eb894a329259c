"""Self-compiled C kernel for the baseline-JPEG entropy decode hot loop.

The pure-numpy decoder (jpegcodec.decode_jpeg) is plan-correct Spark-side
but its per-bit Python Huffman walk caps decode at ~1.5 MB/s-core — the
one measured scale ceiling in the repo (BENCH/BASELINE.md "JPEG decode
ceiling"). Containers with an image wheel use the Pillow backend; this
module is the escape hatch for wheels-absent fleets WITH a C toolchain:
~200 lines of dependency-free C99 (bit reader + canonical Huffman decode
per T.81 F.2.2.3 + the baseline MCU walk), compiled on first use with
the host cc into a content-addressed .so and loaded via ctypes. Marker
parsing, table building, dequant/IDCT/color (already vectorized numpy)
stay in Python; progressive scans keep the Python path.

Every fallible step (no compiler, compile error, load error) degrades to
None and the caller falls back to the pure decoder — behavior is
identical, only throughput changes. Kill switch: MP_SPARK_JPEG_CEXT=0.

The C mirrors jpegcodec._decode_one_scan/_decode_block semantics exactly
(same fast-path table layout, same error conditions); pixel equality
with the pure decoder over the full encode battery is pinned in
tests/test_jpeg_cext.py.
"""

from __future__ import annotations

import ctypes

from .._cext_build import kernel_loader

_C_SOURCE = r"""
#include <stdint.h>

typedef struct {
    const uint8_t *d;
    long n;
    long pos;
    uint64_t acc;
    int nbits;
} BR;

/* error codes (mirrored by the Python wrapper) */
#define E_TRUNC   -1
#define E_BADCODE -2
#define E_DCSIZE  -3
#define E_ACIDX   -4

static int br_fill(BR *b, int need) {
    while (b->nbits < need) {
        if (b->pos >= b->n) return E_TRUNC;
        b->acc = (b->acc << 8) | b->d[b->pos++];
        b->nbits += 8;
    }
    return 0;
}

/* zero-padded peek: never consumes, pads past stream end (the pure
   decoder's _BitReader._peek contract) */
static int br_peek(BR *b, int n) {
    while (b->nbits < n && b->pos < b->n) {
        b->acc = (b->acc << 8) | b->d[b->pos++];
        b->nbits += 8;
    }
    if (b->nbits >= n)
        return (int)((b->acc >> (b->nbits - n)) & ((1u << n) - 1));
    return (int)((b->acc << (n - b->nbits)) & ((1u << n) - 1));
}

static int br_skip(BR *b, int n) {
    if (br_fill(b, n)) return E_TRUNC;
    b->nbits -= n;
    b->acc &= (((uint64_t)1 << b->nbits) - 1);
    return 0;
}

static int br_read(BR *b, int n, int *out) {
    if (n == 0) { *out = 0; return 0; }
    if (br_fill(b, n)) return E_TRUNC;
    *out = (int)((b->acc >> (b->nbits - n)) & ((1u << n) - 1));
    b->nbits -= n;
    b->acc &= (((uint64_t)1 << b->nbits) - 1);
    return 0;
}

/* table blob layout (int32): fast[256] ((len<<16)|sym, -1 = long code),
   maxcode[17], mincode[17], valptr[17], vals[256] */
static int huff_decode(BR *b, const int32_t *t) {
    int32_t f = t[br_peek(b, 8)];
    if (f >= 0) {
        if (br_skip(b, f >> 16)) return E_TRUNC;
        return f & 0xFFFF;
    }
    {
        int code16 = br_peek(b, 16);
        const int32_t *maxcode = t + 256;
        const int32_t *mincode = t + 273;
        const int32_t *valptr = t + 290;
        const int32_t *vals = t + 307;
        int len;
        for (len = 9; len <= 16; len++) {
            int c = code16 >> (16 - len);
            if (c <= maxcode[len]) {
                if (br_skip(b, len)) return E_TRUNC;
                return vals[valptr[len] + c - mincode[len]];
            }
        }
    }
    return E_BADCODE;
}

/* T.81 F.2.2.1 EXTEND */
static long jextend(int bits, int size) {
    if (size == 0) return 0;
    if (bits < (1 << (size - 1))) return (long)bits - (1L << size) + 1;
    return bits;
}

static int decode_block(BR *b, int64_t *zz, const int32_t *dct,
                        const int32_t *act, int64_t *pred) {
    int size = huff_decode(b, dct);
    int bits, k;
    if (size < 0) return size;
    if (size > 11) return E_DCSIZE;
    if (br_read(b, size, &bits)) return E_TRUNC;
    *pred += jextend(bits, size);
    zz[0] = *pred;
    k = 1;
    while (k < 64) {
        int rs = huff_decode(b, act);
        int r, s, v;
        if (rs < 0) return rs;
        r = rs >> 4;
        s = rs & 0x0F;
        if (s == 0) {
            if (r == 15) { k += 16; continue; }
            break; /* EOB */
        }
        k += r;
        if (k > 63) return E_ACIDX;
        if (br_read(b, s, &v)) return E_TRUNC;
        zz[k] = jextend(v, s);
        k++;
    }
    return 0;
}

/* Decode `unit_count` units of one baseline scan segment (already
   unstuffed, restart-reset handled by the caller per segment).
   member_geom: per scan member (ci, hi, vi) triples into the FRAME
   component arrays grids/grid_bx/preds. Interleaved: units are MCUs,
   my,mx = unit / mcus_x, unit %% mcus_x; single member: units are that
   component's raster blocks over nb_x columns. */
int mp_decode_scan_units(
    const uint8_t *seg, long seg_len,
    int nmembers, const int32_t *member_geom,
    const int32_t *tables, const int32_t *dc_off, const int32_t *ac_off,
    int interleaved, long mcus_x, long nb_x,
    long unit_start, long unit_count,
    int64_t **grids, const int64_t *grid_bx, int64_t *preds)
{
    BR br;
    long u;
    br.d = seg; br.n = seg_len; br.pos = 0; br.acc = 0; br.nbits = 0;
    for (u = unit_start; u < unit_start + unit_count; u++) {
        if (interleaved) {
            long my = u / mcus_x, mx = u % mcus_x;
            int m;
            for (m = 0; m < nmembers; m++) {
                int ci = member_geom[3 * m];
                int hi = member_geom[3 * m + 1];
                int vi = member_geom[3 * m + 2];
                const int32_t *dct = tables + dc_off[m];
                const int32_t *act = tables + ac_off[m];
                int byi, bxi;
                for (byi = 0; byi < vi; byi++) {
                    for (bxi = 0; bxi < hi; bxi++) {
                        int64_t *blk = grids[ci] +
                            ((my * vi + byi) * grid_bx[ci] + (mx * hi + bxi)) * 64;
                        int rc = decode_block(&br, blk, dct, act, &preds[ci]);
                        if (rc) return rc;
                    }
                }
            }
        } else {
            int ci = member_geom[0];
            long by = u / nb_x, bx = u % nb_x;
            int64_t *blk = grids[ci] + (by * grid_bx[ci] + bx) * 64;
            int rc = decode_block(&br, blk, tables + dc_off[0],
                                  tables + ac_off[0], &preds[ci]);
            if (rc) return rc;
        }
    }
    return 0;
}
"""

_ERRORS = {
    -1: "truncated JPEG entropy segment",
    -2: "invalid Huffman code",
    -3: "invalid DC size category",
    -4: "AC index overflow",
}


def _bind(lib: ctypes.CDLL) -> None:
    lib.mp_decode_scan_units.restype = ctypes.c_int
    lib.mp_decode_scan_units.argtypes = [
        ctypes.c_char_p, ctypes.c_long,
        ctypes.c_int, ctypes.POINTER(ctypes.c_int32),
        ctypes.POINTER(ctypes.c_int32), ctypes.POINTER(ctypes.c_int32),
        ctypes.POINTER(ctypes.c_int32),
        ctypes.c_int, ctypes.c_long, ctypes.c_long,
        ctypes.c_long, ctypes.c_long,
        ctypes.POINTER(ctypes.c_void_p), ctypes.POINTER(ctypes.c_int64),
        ctypes.POINTER(ctypes.c_int64),
    ]


load = kernel_loader(_C_SOURCE, "jpeg_cext", "MP_SPARK_JPEG_CEXT", _bind)


def error_message(code: int) -> str:
    return _ERRORS.get(code, f"JPEG C-kernel error {code}")
