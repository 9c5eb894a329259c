"""LSH banding stage: signatures -> (url, band_id, band_key) rows.

Classic banding assumes m independent MinHash permutations; the reference
sketch is a single-hash bottom-k (KMV) set. Banding over the *sorted
positions* of the bottom-k array has catastrophic recall (one missing
element shifts every later position, so only a shared prefix can ever
match; at jaccard 0.8 and k=256 the first difference lands at position ~4).
SURVEY.md §7.3 anticipated this; we use its fallback as the primary design:

    component_j = min over x in sketch of g_j(x),  j = 0..b*r-1

where g_j is a seeded multiply-shift hash (a_j*x + b_j mod 2^64, a_j odd).
For a random g_j the minimum over A∪B falls in A∩B with probability exactly
|A∩B|/|A∪B| — the *sketch* Jaccard, which is what the verify stage measures
— so P(component match) = s and P(candidate) = 1-(1-s^r)^b, the textbook
S-curve. Components derive purely from sketch contents, preserving the
bit-compat contract of the signatures table.

PipelineConfig's default banding is ADAPTIVE since round 7
(config.choose_banding): the cheapest (b, r) whose S-curve keeps
p_hit(tau) >= 0.99 — (26, 8) at tau=0.8, so P(candidate | s=0.8) ≈ 0.99
with 26/32 of the fixed 32x8 shape's verify volume; a different tau
retunes the shape automatically (the old fixed default missed threshold
pairs at tau=0.7 and wasted 2.3x candidates at tau=0.9 — sweep table in
BENCH/BASELINE.md). The end-to-end recall tests (tests/test_pipeline.py)
assert >=0.99 under both the adaptive default and the explicit 32x8.

Physical plan: every signature column is read zero-copy through
signature.list_layout; _band_keys_from_values computes each doc's m
component minima in the C kernel band_minima_c (numpy reduceat when it is
unavailable) and folds each r-run into a 64-bit band key (fmix64 +
FNV-style polynomial fold), b keys per doc. band_table (mapInArrow)
emits the exploded (url, band_id, band_key) rows directly;
make_band_keys_udf (an Arrow UDF, for the streaming path) returns the b
keys as one array per doc, b-element arrays instead of m-element ones
keeping the JVM explode small.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..config import PipelineConfig
from .signature import list_layout

_FMIX1 = np.uint64(0xFF51AFD7ED558CCD)
_FMIX2 = np.uint64(0xC4CEB9FE1A85EC53)
_FNV = np.uint64(0x100000001B3)


def _band_params(cfg: PipelineConfig) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-shift params from the job config."""
    m = cfg.n_bands * cfg.rows_per_band
    rng = np.random.Generator(np.random.PCG64(cfg.sketch.seed ^ 0x5EED_BA7D))
    a = rng.integers(0, 2**63, size=m, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=m, dtype=np.uint64)
    return a, b


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k.copy()
    k ^= k >> np.uint64(33)
    k *= _FMIX1
    k ^= k >> np.uint64(33)
    k *= _FMIX2
    k ^= k >> np.uint64(33)
    return k


def make_band_keys_udf(cfg: PipelineConfig):
    """Arrow UDF: sig array<bigint> -> array<bigint> of n_bands band keys.

    Empty/short signatures yield an empty array (no bands emitted).
    Same layout and kernel as band_table (_band_keys_from_values), so
    streaming and batch band keys are identical by construction
    (tests/test_band_key_parity.py pins it).
    """
    n_bands = cfg.n_bands
    key_type = pa.list_(pa.field("element", pa.int64(), nullable=False))

    @F.arrow_udf(ArrayType(LongType(), containsNull=False))
    def band_keys_udf(sig: pa.Array) -> pa.Array:
        vals, starts, lens = list_layout(sig)
        nonzero, keys = _band_keys_from_values(vals, starts, lens, cfg)
        counts = np.zeros(len(sig), dtype=np.int32)
        counts[nonzero] = n_bands
        offsets = np.zeros(len(sig) + 1, dtype=np.int32)
        np.cumsum(counts, out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(keys.ravel()), type=key_type
        )

    return band_keys_udf


def _band_keys_from_values(
    values: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    cfg: PipelineConfig,
) -> tuple[np.ndarray, np.ndarray]:
    """(nonempty_row_indices, keys int64[n_nonempty, n_bands]) from the
    list_layout of a batch's signature column (shared by the Arrow UDF and
    band_table)."""
    a_params, b_params = _band_params(cfg)
    n_bands, r = cfg.n_bands, cfg.rows_per_band
    m = n_bands * r
    kin = cfg.band_input_k
    keep = np.minimum(lens, kin)
    nonzero = np.flatnonzero(keep > 0)
    if nonzero.shape[0] == 0:
        return nonzero, np.empty((0, n_bands), dtype=np.int64)
    k_nz = keep[nonzero]
    n_ne = nonzero.shape[0]
    from ..hashkernels import _hash_cext

    values_u64 = values.view(np.uint64)

    # C fast path (round 8): per-doc multiply-shift minima with the doc's
    # <= band_input_k values L1-resident — the numpy reduceat formulation
    # streams m full-length product arrays through memory per batch.
    # Wrap-around arithmetic identical; the streaming/batch band-key
    # equality tests pin both paths.
    comp = _hash_cext.band_minima_c(
        values_u64, starts[nonzero], k_nz, a_params, b_params
    )
    if comp is None:
        # gather the bottom-kin prefix of each doc out of the shared buffer
        total = int(k_nz.sum())
        base = np.repeat(starts[nonzero], k_nz)
        local = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(k_nz) - k_nz, k_nz
        )
        flat = values_u64[base + local]
        ne_starts = np.concatenate(([0], np.cumsum(k_nz)[:-1]))
        comp = np.empty((n_ne, m), dtype=np.uint64)
        for j in range(m):
            y = flat * a_params[j] + b_params[j]
            comp[:, j] = np.minimum.reduceat(y, ne_starts)
    mixed = _fmix64(comp).reshape(n_ne, n_bands, r)
    keys = np.zeros((n_ne, n_bands), dtype=np.uint64)
    for rr in range(r):
        keys = keys * _FNV ^ mixed[:, :, rr]
    return nonzero, keys.view(np.int64)


def band_table(
    signatures: DataFrame, cfg: PipelineConfig, url_col: str = "url"
) -> DataFrame:
    """signatures(url, sig) -> bands(url, band_id, band_key).

    mapInArrow end to end: signature values are read zero-copy through
    list_layout, the m component minima of the whole batch run in the C
    band_minima_c kernel (numpy reduceat when it is unavailable), and the
    exploded (url, band_id, band_key) rows are emitted directly — no
    per-doc Python lists in, no array column + posexplode on the JVM side
    out. Docs with empty signatures emit no rows (same as the old
    explode)."""
    n_bands = cfg.n_bands
    src = signatures.select(url_col, "sig")
    out_schema = StructType(
        [
            StructField(url_col, src.schema[url_col].dataType),
            StructField("band_id", IntegerType(), nullable=False),
            StructField("band_key", LongType(), nullable=False),
        ]
    )
    band_id_tile = np.arange(n_bands, dtype=np.int32)

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            urls = rb.column(0)
            nonzero, keys = _band_keys_from_values(*list_layout(rb.column(1)), cfg)
            n_ne = nonzero.shape[0]
            out_urls = urls.take(
                pa.array(np.repeat(nonzero, n_bands), type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    out_urls,
                    pa.array(np.tile(band_id_tile, n_ne), pa.int32()),
                    pa.array(keys.ravel(), pa.int64()),
                ],
                names=[url_col, "band_id", "band_key"],
            )

    return src.mapInArrow(compute, out_schema)
