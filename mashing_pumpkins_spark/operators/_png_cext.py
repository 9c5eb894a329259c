"""Self-compiled C kernel for PNG scanline defiltering.

The pure-numpy decoder (multimodal.decode_png) is exact but its
Average/Paeth filters carry a left-pixel dependency, so they loop over
pixels with one tiny numpy op per pixel — ~1-2 ms for even a 16x16
tile, which dominates small-image decode. This kernel defilters a whole
pass (all scanlines, all five spec filters) in one native call,
mirroring _png_defilter_row's arithmetic exactly (PNG spec §6: mod-256
adds, exact average floor, the Paeth tie rules). Falls back to the
numpy loop when unavailable. Kill switch: MP_SPARK_PNG_CEXT=0.
"""

from __future__ import annotations

import ctypes

import numpy as np

from .._cext_build import kernel_loader

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* Defilter `height` scanlines of one PNG pass.
   raw: height * (stride + 1) bytes (leading filter byte per scanline).
   out: height * stride reconstructed bytes.
   Returns 0, or -1 on an invalid filter type. */
int mp_png_defilter(const uint8_t *raw, long height, long stride, int bpp,
                    uint8_t *out) {
    long y, x;
    for (y = 0; y < height; y++) {
        int ft = raw[y * (stride + 1)];
        const uint8_t *line = raw + y * (stride + 1) + 1;
        uint8_t *o = out + y * stride;
        const uint8_t *prior = y ? out + (y - 1) * stride : 0;
        switch (ft) {
        case 0:
            memcpy(o, line, (size_t)stride);
            break;
        case 1: /* Sub */
            for (x = 0; x < stride; x++)
                o[x] = (uint8_t)(line[x] + (x >= bpp ? o[x - bpp] : 0));
            break;
        case 2: /* Up */
            for (x = 0; x < stride; x++)
                o[x] = (uint8_t)(line[x] + (prior ? prior[x] : 0));
            break;
        case 3: /* Average */
            for (x = 0; x < stride; x++) {
                int left = x >= bpp ? o[x - bpp] : 0;
                int up = prior ? prior[x] : 0;
                o[x] = (uint8_t)(line[x] + ((left + up) >> 1));
            }
            break;
        case 4: /* Paeth */
            for (x = 0; x < stride; x++) {
                int left = x >= bpp ? o[x - bpp] : 0;
                int up = prior ? prior[x] : 0;
                int upleft = (prior && x >= bpp) ? prior[x - bpp] : 0;
                int p = left + up - upleft;
                int pa = p - left; if (pa < 0) pa = -pa;
                int pb = p - up; if (pb < 0) pb = -pb;
                int pc = p - upleft; if (pc < 0) pc = -pc;
                int pred = (pa <= pb && pa <= pc) ? left
                         : (pb <= pc) ? up : upleft;
                o[x] = (uint8_t)(line[x] + pred);
            }
            break;
        default:
            return -1;
        }
    }
    return 0;
}
"""


def _bind(lib: ctypes.CDLL) -> None:
    u8p = ctypes.POINTER(ctypes.c_uint8)
    lib.mp_png_defilter.restype = ctypes.c_int
    lib.mp_png_defilter.argtypes = [
        u8p, ctypes.c_long, ctypes.c_long, ctypes.c_int, u8p,
    ]


load = kernel_loader(_C_SOURCE, "png_cext", "MP_SPARK_PNG_CEXT", _bind)


def defilter_pass(
    raw: bytes, off: int, height: int, stride: int, bpp: int
) -> "np.ndarray | None":
    """Reconstruct one pass's scanlines; (height, stride) uint8 array or
    None when the kernel is unavailable. Raises ValueError on an invalid
    filter type (same condition the numpy path raises on)."""
    lib = load()
    if lib is None:
        return None
    n = height * (stride + 1)
    buf = np.frombuffer(raw, dtype=np.uint8, count=n, offset=off)
    buf = np.ascontiguousarray(buf)
    out = np.empty(height * stride, dtype=np.uint8)
    rc = lib.mp_png_defilter(
        buf.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
        ctypes.c_long(height),
        ctypes.c_long(stride),
        ctypes.c_int(bpp),
        out.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
    )
    if rc != 0:
        raise ValueError("invalid PNG filter type")
    return out.reshape(height, stride)
