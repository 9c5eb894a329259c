"""Signature operator: pages/docs DataFrame -> per-document MinHash sketch.

The reference's hot path (`SetSketch.add`, reference
src/minhashsketch.py:214-247: chunk -> batch C hash -> heap) is ONE
operator, `sketch_table`: a mapInArrow that reads each Arrow batch's text
bytes zero-copy, hashes the whole batch in a single vectorized pass, and
takes per-document bottom-k by unique+truncate (same set, no heap needed —
the heap is an artifact of single-pass streaming execution). Every
signature in the package — pipeline, rollup, sharding, incremental
admission (batch or stream), the entry queries — comes from it.

Plan shape: narrow projection into the operator (id, text only) so Parquet
column pruning survives; no shuffle — the sketch is per-row. The counted
and n-gram UDFs below are opt-in variants with a different output shape.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
)

from ..config import SketchConfig

SIGNATURE_FIELDS = [
    StructField("sig", ArrayType(LongType(), containsNull=False), nullable=False),
    StructField("nvisited", LongType(), nullable=False),
]


def make_counted_signature_udf(cfg: SketchConfig):
    """Counted-sketch UDF: text -> struct<hashes, counts, nvisited>.

    Counts are TRUE per-retained-hash multiplicities — the reference
    CountTrait's documented/tested intent, not its insert-only counting
    code path (see counted_signature in functions/sketch_np.py)."""
    from ..functions.sketch_np import counted_signature
    from ..hashkernels import u64_to_i64

    schema = StructType(
        [
            StructField("hashes", ArrayType(LongType(), containsNull=False)),
            StructField("counts", ArrayType(LongType(), containsNull=False)),
            StructField("nvisited", LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def counted_udf(text_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in text_iter:
            hs, cs, nv = [], [], []
            for t in texts.fillna(""):
                payload = t.encode("utf-8") if isinstance(t, str) else (t or b"")
                h, c, n = counted_signature(payload, cfg)
                hs.append(u64_to_i64(h).tolist())
                cs.append(c.tolist())
                nv.append(n)
            yield pd.DataFrame({"hashes": hs, "counts": cs, "nvisited": nv})

    return counted_udf


def make_ngram_signature_udf(cfg: SketchConfig):
    """Debug/interop UDF: text -> struct<sig, ngrams array<binary>, nvisited>
    — O5 ngram payload retention (reference make_elt,
    /root/reference/src/minhashsketch.py:8-10). Opt-in: the payload ~2.6x-es
    sketch storage, so the production path stays hash-only."""
    from ..functions.sketch_np import signature_with_ngrams
    from ..hashkernels import u64_to_i64
    from pyspark.sql.types import BinaryType

    schema = StructType(
        [
            StructField("sig", ArrayType(LongType(), containsNull=False)),
            StructField("ngrams", ArrayType(BinaryType(), containsNull=False)),
            StructField("nvisited", LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def ngram_sig_udf(text_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in text_iter:
            sigs, grams, nvis = [], [], []
            for t in texts.fillna(""):
                payload = t.encode("utf-8") if isinstance(t, str) else (t or b"")
                s, g, n = signature_with_ngrams(payload, cfg)
                sigs.append(u64_to_i64(s).tolist())
                grams.append(g)
                nvis.append(n)
            yield pd.DataFrame({"sig": sigs, "ngrams": grams, "nvisited": nvis})

    return ngram_sig_udf


def _string_array_as_buffer(arr) -> tuple:
    """Zero-copy view of a pyarrow String/LargeString/Binary array as
    (byte buffer uint8[], starts int64[], lens int64[]).

    Reads the Arrow offsets buffer directly — no per-row Python string
    objects, no encode, no join: the concatenated UTF-8 bytes ALREADY live
    contiguously in the Arrow data buffer. Null rows get length 0 (their
    windows are never emitted)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        odt = np.int32
    else:  # dictionary or other exotic encodings: fall back via cast
        arr = arr.cast(pa.string())
        odt = np.int32
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
        lens = np.where(valid, lens, 0)
    return data, starts, lens


def list_layout(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Zero-copy view of a pyarrow list<int64> array (a signature column)
    as (values int64[], starts int64[], lens int64[]): row i is
    values[starts[i] : starts[i] + lens[i]].

    Reads the child values buffer with the absolute offsets, so a sliced
    array needs no copy and starts stay nondecreasing (what
    _intersect_cext.violating_rows requires). Null rows get length 0."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    starts = offsets[:-1]
    lens = offsets[1:] - starts
    if arr.null_count:
        lens = np.where(np.asarray(arr.is_valid()), lens, 0)
    return np.asarray(arr.values, dtype=np.int64), starts, lens


def sketch_table(
    pages: DataFrame,
    cfg: SketchConfig,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """signatures(url, sig, nvisited) — the persisted sketch stage.

    Physical form: mapInArrow end to end. Input text bytes are read
    zero-copy out of the Arrow string buffer (no per-row Python objects in
    OR out — round 1 measured the per-doc list round-trip as the dominant
    non-kernel cost of the pandas path), the whole batch is hashed in one
    vectorized pass, and the output signatures are assembled as one Arrow
    ListArray from (values, offsets).

    Narrow select BEFORE the UDF so the Parquet scan reads only two columns
    (check `.explain`: ReadSchema must not include html/lang/warc_ts).
    """
    from ..functions.sketch_np import signatures_from_buffer

    src = pages.select(url_col, text_col)
    out_schema = StructType(
        [
            StructField(url_col, src.schema[url_col].dataType),
            SIGNATURE_FIELDS[0],
            SIGNATURE_FIELDS[1],
        ]
    )
    sig_type = pa.list_(pa.field("element", pa.int64(), nullable=False))

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            urls = rb.column(0)
            buf, starts, lens = _string_array_as_buffer(rb.column(1))
            flat, offsets, nvis = signatures_from_buffer(buf, starts, lens, cfg)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(flat, pa.int64()),
                type=sig_type,
            )
            yield pa.RecordBatch.from_arrays(
                [urls, sig_arr, pa.array(nvis, pa.int64())],
                names=[url_col, "sig", "nvisited"],
            )

    return src.mapInArrow(compute, out_schema)
