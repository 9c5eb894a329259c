"""Exact verification of candidate pairs by sketch Jaccard.

Semantics: reference FrozenSketch.jaccard_similarity
(/root/reference/src/minhashsketch.py:709-718) — exact |A∩B|/|A∪B| over the
two retained sets, >= tau keeps the edge.

Two passes, exact:
1. PREFILTER on the bottom-K prefix of each signature (K =
   PipelineConfig.prefilter_k, default 64). A KMV prefix is itself a KMV
   sketch, so prefix-Jaccard estimates full-sketch Jaccard with sigma =
   sqrt(s(1-s)/K) ~= 0.05 at K=64; filtering at tau - 6*sigma keeps a true
   >=tau pair with per-pair false-drop probability ~1e-7 (the
   Binomial(64, tau) tail — fatter than the ~1e-9 the normal approximation
   suggests; raise prefilter_k to 128-256 when billions of candidates make
   that tail matter) while killing the bulk of boilerplate-driven
   candidates (observed: ~95% of candidates at web-like corpora sit far
   below tau, and at tau=0.8 the cut is 0.5). This cuts the expensive join
   payload from k*8 bytes to K*8 bytes per side.
2. EXACT pass on survivors with the full signatures — so the final edge set
   is exactly the tau-threshold set (phase 1 is only ever a superset
   filter).

One decision picks the physical strategy: a single aggregate over the
signatures of the candidate urls measures the url count, the full
signature values and the prefix values. On those actual bytes:
- the full slice fits the broadcast cap: broadcast it and score every pair
  in one scan, no join, no prefilter;
- else the prefix slice fits: broadcast the prefixes for phase 1, join
  the survivors to the signatures for phase 2;
- else join for both passes. When no signature is longer than K (the
  prefix values equal the full values) phase 1 would be exact, so only
  phase 2 runs.

`verify_scorer` makes that decision once and returns a scorer, a lazy
pairs -> edges function. The pipeline builds it on round 1's candidates
and applies it to both candidate rounds (operators/candidates.py): every
round-2 url is a member of a round-1 pair, so it is in round 1's slice,
and a broadcast scorer raises on a url that is not. `verified_edges` is
the scorer of a pair table applied to that table.

Scoring is one function, `_jaccard`: the C sorted-merge intersect kernel
(operators/_intersect_cext) over row pairs of one (values, starts, lens)
layout, with np.intersect1d only for rows that are not sorted-unique and
when the kernel is unavailable — results are bit-identical either way.
Every signature column reaches it through signature.list_layout: the
broadcast paths lay out the collected slice once, and the join paths'
Arrow UDF lays out both columns of a batch as one buffer.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..config import PipelineConfig
from . import _intersect_cext
from .signature import list_layout


def _jaccard(
    vals: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    viol: np.ndarray,
    ia: np.ndarray,
    ib: np.ndarray,
) -> np.ndarray:
    """Exact Jaccard of the row pairs (ia[p], ib[p]) of one list layout
    (row i is vals[starts[i] : starts[i] + lens[i]]). The C sorted-merge
    scores every pair; np.intersect1d re-scores the pairs that touch a
    ``viol`` row (violating_rows of the layout), or every pair when the
    kernel is unavailable. An empty row scores 0."""
    inter = _intersect_cext.intersect_counts_indexed(vals, starts, lens, ia, ib)
    if inter is None:
        inter = np.zeros(ia.shape[0], dtype=np.int64)
        redo = range(ia.shape[0])
    else:
        redo = np.flatnonzero(np.isin(ia, viol) | np.isin(ib, viol))
    for p in redo:
        i, j = ia[p], ib[p]
        inter[p] = np.intersect1d(
            vals[starts[i] : starts[i] + lens[i]],
            vals[starts[j] : starts[j] + lens[j]],
            assume_unique=True,
        ).shape[0]
    la = lens[ia]
    lb = lens[ib]
    out = np.zeros(ia.shape[0], dtype=np.float64)
    ok = (la > 0) & (lb > 0)
    out[ok] = inter[ok] / (la + lb - inter)[ok]
    return out


@F.arrow_udf(DoubleType())
def _jaccard_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    """Row-aligned exact Jaccard of two signature columns: both laid out as
    one buffer, row i of ``a`` paired with row n + i (row i of ``b``)."""
    a_vals, a_starts, a_lens = list_layout(a)
    b_vals, b_starts, b_lens = list_layout(b)
    vals = np.concatenate([a_vals, b_vals])
    starts = np.concatenate([a_starts, b_starts + a_vals.shape[0]])
    lens = np.concatenate([a_lens, b_lens])
    viol = _intersect_cext.violating_rows(vals, starts, lens)
    ia = np.arange(len(a), dtype=np.int64)
    return pa.array(_jaccard(vals, starts, lens, viol, ia, ia + len(a)))


def _join_sigs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    # merge hint: this path only runs when the dispatch has already ruled
    # out a broadcastable slice, so both sides are large — but the pair
    # table's post-aggregate size ESTIMATE can read tiny, and a
    # statically-planned broadcast of an unbounded pair table is exactly
    # the word_ngram OOM class (operators/dedup.py round-8 note). Pin the
    # scale-safe sort-merge strategy on BOTH joins: a hint binds only the
    # join directly above it.
    sig_a = sigs.select(F.col("url").alias("url_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("url").alias("url_b"), F.col("sig").alias("sig_b"))
    return pairs.hint("merge").join(sig_a, "url_a").hint("merge").join(sig_b, "url_b")


def _candidate_slice(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """The signatures of the urls appearing in any candidate pair."""
    urls = pairs.select(F.explode(F.array("url_a", "url_b")).alias("url")).distinct()
    return sigs.join(urls, "url", "semi")


def _collect_slice_flat(
    sl: DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict, np.ndarray]:
    """A candidate signature slice as one flat layout: collect ONCE via
    Arrow (toArrow — no row-pickle path, ~10x the old toPandas dict build
    at a 100 MB slice), and expose the sig column's list_layout as (flat
    int64 values, starts, lens, url -> row index, violating rows). The
    flat layout is what gets broadcast: one ndarray + a str->int dict
    pickles far faster than a dict of 10^5 small ndarrays."""
    tbl = sl.toArrow()
    vals, starts, lens = list_layout(tbl.column("sig"))
    idx = {u: i for i, u in enumerate(tbl.column("url").to_pylist())}
    return vals, starts, lens, idx, _intersect_cext.violating_rows(vals, starts, lens)


def _broadcast_score(
    pairs: DataFrame,
    bc,
    threshold: float,
    emit_jaccard: bool,
) -> DataFrame:
    """Shared broadcast scoring pass: the collected signature slice ``bc``
    (a broadcast of _collect_slice_flat) rides to every task as a flat
    buffer, the pair table streams through ONE mapInPandas (zero join
    shuffles), and each batch is scored by _jaccard. With
    emit_jaccard this IS the verify stage; without it it is the phase-1
    prefix prefilter (same float predicate either way). A url missing from
    the slice raises: scoring it as 0 would drop a pair silently."""
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    fields = [StructField("url_a", StringType()), StructField("url_b", StringType())]
    if emit_jaccard:
        fields.append(StructField("jaccard", DoubleType()))
    out_schema = StructType(fields)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vals, st, ln, table, viol = bc.value
        get = table.get
        for pdf in batches:
            ua = pdf["url_a"]
            ub = pdf["url_b"]
            n = len(pdf)
            ia = np.fromiter((get(u, -1) for u in ua), np.int64, n)
            ib = np.fromiter((get(u, -1) for u in ub), np.int64, n)
            missing = np.flatnonzero((ia < 0) | (ib < 0))
            if missing.size:
                i = missing[0]
                url = ua.iloc[i] if ia[i] < 0 else ub.iloc[i]
                raise KeyError(
                    f"url {url!r} of a verify pair is not in the broadcast signature slice"
                )
            jac = _jaccard(vals, st, ln, viol, ia, ib)
            keep = jac >= threshold
            if emit_jaccard:
                yield pd.DataFrame(
                    {
                        "url_a": ua[keep],
                        "url_b": ub[keep],
                        "jaccard": np.round(jac[keep], 9),
                    }
                )
            else:
                yield pd.DataFrame({"url_a": ua[keep], "url_b": ub[keep]})

    return pairs.select("url_a", "url_b").mapInPandas(score, out_schema)


def verify_scorer(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: PipelineConfig,
    broadcast_cap_bytes: int = 160 << 20,
) -> Callable[[DataFrame], DataFrame]:
    """The strategy decision (module docstring) for the candidate slice of
    ``pairs``, made once: returns score(pairs') -> edges(url_a, url_b,
    jaccard >= tau). The aggregate, and on a broadcast path the collect and
    the broadcast, run here; every scorer call is lazy. A scorer applies to
    any pair table whose urls are in the slice of ``pairs`` (the broadcast
    paths raise on any other url).

    The strategy is chosen on the bytes a broadcast of the candidate slice
    would carry: 8 B per signature value plus the int64 start and length
    of each row. Cap rationale (round-8 re-measure): the slice collects via
    ONE Arrow toArrow pass into a flat buffer — measured ~2 s for the 99 MB
    bench-corpus slice INCLUDING the semi-join scan (flatten + url-index
    build 0.04 s, broadcast pickle 1.0 s), vs ~120 s for the 320 MB
    row-pickle toPandas dict that set the old 48 MB cap; executor-side cost
    is one mmap-read per python worker. 160 MB keeps driver+worker
    residency bounded (32 workers x slice) while letting bench-scale
    candidate sets take the zero-shuffle path."""
    from pyspark.storagelevel import StorageLevel

    tau = cfg.jaccard_threshold
    k = cfg.prefilter_k
    sigs = signatures.select("url", "sig")
    spark = pairs.sparkSession
    # The candidate slice feeds the dispatch aggregate and the broadcast
    # collect: persisting it builds the url set and the semi join once
    # (persisting only the url set makes the collect broadcast it again,
    # one more job). On the join path nothing reads it after the
    # aggregate, so there it costs one cache write of the slice. Both
    # consumers run before the function returns, and no scorer reads it,
    # so the unpersist is safe.
    sl = _candidate_slice(pairs, sigs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        size = F.size("sig")
        n, full, prefix = (
            sl.agg(
                F.count("*"),
                F.coalesce(F.sum(size), F.lit(0)),
                F.coalesce(F.sum(F.least(size, F.lit(k))), F.lit(0)),
            )
            .first()
        )

        def fits(n_values: int) -> bool:
            return 8 * (n_values + 2 * n) <= broadcast_cap_bytes

        def broadcast(s: DataFrame):
            return spark.sparkContext.broadcast(_collect_slice_flat(s))

        if fits(full):
            bc = broadcast(sl)
            return lambda p: _broadcast_score(p, bc, tau, emit_jaccard=True)
        sigma = math.sqrt(tau * (1.0 - tau) / k)
        pre_tau = max(0.0, tau - 6.0 * sigma)
        prefix_sig = F.slice("sig", 1, k).alias("sig")
        if prefix == full:

            def prefilter(p: DataFrame) -> DataFrame:
                return p.select("url_a", "url_b")

        elif fits(prefix):
            bc = broadcast(sl.select("url", prefix_sig))

            def prefilter(p: DataFrame) -> DataFrame:
                return _broadcast_score(p, bc, pre_tau, emit_jaccard=False)

        else:

            def prefilter(p: DataFrame) -> DataFrame:
                return (
                    _join_sigs(p.select("url_a", "url_b"), sigs.select("url", prefix_sig))
                    .where(_jaccard_udf("sig_a", "sig_b") >= pre_tau)
                    .select("url_a", "url_b")
                )

        def score(p: DataFrame) -> DataFrame:
            return (
                _join_sigs(prefilter(p), sigs)
                .withColumn("jaccard", F.round(_jaccard_udf("sig_a", "sig_b"), 9))
                .where(F.col("jaccard") >= tau)
                .select("url_a", "url_b", "jaccard")
            )

        return score
    finally:
        sl.unpersist()


def verified_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: PipelineConfig,
    broadcast_cap_bytes: int = 160 << 20,
) -> DataFrame:
    """pairs(url_a, url_b) x signatures(url, sig) -> edges(url_a, url_b,
    jaccard >= tau): verify_scorer's decision for ``pairs``, applied to
    ``pairs``."""
    return verify_scorer(pairs, signatures, cfg, broadcast_cap_bytes)(pairs)
