"""Exact verification of candidate pairs by sketch Jaccard.

Semantics: reference FrozenSketch.jaccard_similarity
(/root/reference/src/minhashsketch.py:709-718) — exact |A∩B|/|A∪B| over the
two retained sets, >= tau keeps the edge.

Physical strategy (two-phase, exact):
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
   payload from k*8 bytes to K*8 bytes per side — round-2 profiling showed
   the candidate-pair join payload, not the Jaccard UDF, dominates the
   verify stage (1.9M candidates x 2 x k*8B through a sort-merge join).
2. EXACT pass on survivors with the full signatures — so the final edge set
   is exactly the tau-threshold set (phase 1 is only ever a superset
   filter; when maxsize <= 64 phase 1 IS exact and phase 2 is skipped).

The Jaccard itself runs as an Arrow UDF doing per-pair np.intersect1d.
Alternatives measured (round 3, 20k pairs x 64-element sorted arrays):
per-pair intersect1d 88ms, per-pair searchsorted 168ms, batched pandas
merge 957ms, batched one-big-lexsort and (n,64,64) equality-broadcast far
worse — for k<=256 sorted arrays the "vectorize the batch" refactors LOSE
to the loop; numpy call overhead per pair (~4.4us) is already below Arrow
transfer cost. Catalyst's array_intersect is worse still: interpreted per
element, measured 94s for 240k pairs of 1000-element arrays.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..config import PipelineConfig
from . import _intersect_cext

PREFILTER_K = 64  # default when the caller's PipelineConfig predates the knob

_EMPTY_I64 = np.empty(0, dtype=np.int64)


def _flat_layout(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat int64 values, offsets[n+1], lens) for a Series/sequence of
    int64 arrays (None -> empty). One concatenate, no per-row numpy calls
    beyond the asarray coercion pandas already made."""
    arrays = [
        _EMPTY_I64 if a is None else np.asarray(a, dtype=np.int64) for a in col
    ]
    lens = np.fromiter((a.shape[0] for a in arrays), np.int64, len(arrays))
    offs = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    flat = np.concatenate(arrays) if arrays else _EMPTY_I64
    return flat, offs, lens


def _pair_jaccard_block(
    aflat: np.ndarray,
    aoffs: np.ndarray,
    alens: np.ndarray,
    bflat: np.ndarray,
    boffs: np.ndarray,
    blens: np.ndarray,
) -> np.ndarray:
    """Row-aligned exact Jaccard over two list layouts: C sorted-merge for
    the (overwhelmingly common) sorted-unique sketch rows, np.intersect1d
    for any row the sortedness scan flags — bit-identical to the per-pair
    numpy loop on every input."""
    n = alens.shape[0]
    inter = _intersect_cext.intersect_counts_ab(aflat, aoffs, bflat, boffs)
    if inter is None:
        inter = np.zeros(n, dtype=np.int64)
        for i in range(n):
            xa = aflat[aoffs[i] : aoffs[i + 1]]
            yb = bflat[boffs[i] : boffs[i + 1]]
            if xa.shape[0] and yb.shape[0]:
                inter[i] = np.intersect1d(
                    xa, yb, assume_unique=True
                ).shape[0]
    else:
        bad = np.union1d(
            _intersect_cext.violating_rows(aflat, aoffs[:-1], alens),
            _intersect_cext.violating_rows(bflat, boffs[:-1], blens),
        )
        for i in bad:
            xa = aflat[aoffs[i] : aoffs[i + 1]]
            yb = bflat[boffs[i] : boffs[i + 1]]
            inter[i] = (
                np.intersect1d(xa, yb, assume_unique=True).shape[0]
                if xa.shape[0] and yb.shape[0]
                else 0
            )
    out = np.zeros(n, dtype=np.float64)
    ok = (alens > 0) & (blens > 0)
    union = alens + blens - inter
    out[ok] = inter[ok] / union[ok]
    return out


@F.pandas_udf(DoubleType())
def _jaccard_udf(
    pairs: Iterator[Tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for a_col, b_col in pairs:
        aflat, aoffs, alens = _flat_layout(a_col)
        bflat, boffs, blens = _flat_layout(b_col)
        yield pd.Series(
            _pair_jaccard_block(aflat, aoffs, alens, bflat, boffs, blens)
        )


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


def _candidate_urls(pairs: DataFrame) -> DataFrame:
    """Distinct url set appearing in any candidate pair — the build side
    of every dispatch count/probe/collect job. Callers that run several
    of those jobs persist it once instead of re-deriving the
    explode+distinct per job."""
    return pairs.select(
        F.explode(F.array("url_a", "url_b")).alias("url")
    ).distinct()


def _collect_slice_flat(
    pairs: DataFrame, sigs: DataFrame, urls: DataFrame | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict, np.ndarray]:
    """Candidate-url signature slice as one flat layout: semi-join sigs to
    the urls appearing in any pair, collect ONCE via Arrow (toArrow — no
    row-pickle path, ~10x the old toPandas dict build at a 100 MB slice),
    and expose the Arrow ListArray's own (values, offsets) buffers as
    (flat int64 values, starts, lens, url -> row index, violating rows).
    The flat layout is what gets broadcast: one ndarray + a str->int dict
    pickles far faster than a dict of 10^5 small ndarrays."""
    if urls is None:
        urls = _candidate_urls(pairs)
    tbl = sigs.join(urls, "url", "semi").toArrow().combine_chunks()
    n = tbl.num_rows
    if n == 0:
        flat, starts, lens = _EMPTY_I64, _EMPTY_I64, _EMPTY_I64
        idx: dict = {}
    else:
        sig_arr = tbl.column("sig").chunk(0)
        if sig_arr.null_count:
            # never produced by sketch_table; per-row build keeps the
            # None -> empty semantics of the old dict path
            rows = [
                _EMPTY_I64 if s is None else np.asarray(s, dtype=np.int64)
                for s in sig_arr.to_pylist()
            ]
            flat, offs, lens = _flat_layout(rows)
            starts = offs[:-1]
        else:
            offs = np.asarray(sig_arr.offsets).astype(np.int64)
            flat = np.asarray(sig_arr.flatten(), dtype=np.int64)
            starts = offs[:-1] - offs[0]
            lens = np.diff(offs)
        idx = {u: i for i, u in enumerate(tbl.column("url").to_pylist())}
    viol = _intersect_cext.violating_rows(flat, starts, lens)
    return flat, starts, lens, idx, viol


def _broadcast_score(
    pairs: DataFrame,
    sigs: DataFrame,
    threshold: float,
    emit_jaccard: bool,
    urls: DataFrame | None = None,
) -> DataFrame:
    """Shared broadcast scoring pass: the signature slice rides to every
    task as a flat buffer, the pair table streams through ONE mapInPandas
    (zero join shuffles), and each batch is scored by the C sorted-merge
    kernel (numpy per-pair fallback, bit-identical — see
    _pair_jaccard_block). With emit_jaccard this IS the verify stage; without
    it it is the phase-1 prefix prefilter (same float predicate either way).
    """
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    spark = pairs.sparkSession
    flat, starts, lens, idx, viol = _collect_slice_flat(pairs, sigs, urls)
    bc = spark.sparkContext.broadcast((flat, starts, lens, idx, viol))
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
            inter = _intersect_cext.intersect_counts_indexed(vals, st, ln, ia, ib)
            la = np.zeros(n, dtype=np.int64)
            lb = np.zeros(n, dtype=np.int64)
            ma = ia >= 0
            mb = ib >= 0
            la[ma] = ln[ia[ma]]
            lb[mb] = ln[ib[mb]]
            redo = None
            if inter is None:
                redo = range(n)
                inter = np.zeros(n, dtype=np.int64)
            elif viol.size:
                redo = np.flatnonzero(np.isin(ia, viol) | np.isin(ib, viol))
            if redo is not None:
                for i in redo:
                    if ia[i] < 0 or ib[i] < 0:
                        continue
                    xa = vals[st[ia[i]] : st[ia[i]] + ln[ia[i]]]
                    yb = vals[st[ib[i]] : st[ib[i]] + ln[ib[i]]]
                    inter[i] = (
                        np.intersect1d(xa, yb, assume_unique=True).shape[0]
                        if xa.shape[0] and yb.shape[0]
                        else 0
                    )
            jac = np.zeros(n, dtype=np.float64)
            ok = (la > 0) & (lb > 0)
            union = la + lb - inter
            jac[ok] = inter[ok] / union[ok]
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


def _broadcast_prefilter(
    pairs: DataFrame,
    prefixes: DataFrame,
    pre_tau: float,
    urls: DataFrame | None = None,
) -> DataFrame:
    """Phase-1 prefilter as a broadcast scan: the bottom-K prefix slice of
    the candidate urls is pulled to the driver and broadcast, and the pair
    table streams through one mapInPandas — the two sort-merge joins the
    join-shaped phase 1 pays (pairs x prefix_a, then x prefix_b) disappear.
    Pure physical change: the survivor predicate is the same float
    ``inter/union >= pre_tau`` the join path's _jaccard_udf computes, on
    the same prefix arrays."""
    return _broadcast_score(pairs, prefixes, pre_tau, emit_jaccard=False, urls=urls)


def _broadcast_verify(
    pairs: DataFrame,
    sigs: DataFrame,
    tau: float,
    urls: DataFrame | None = None,
) -> DataFrame:
    """Small-candidate-set physical strategy: semi-join signatures down to
    the urls that appear in any pair, pull that slice to the driver (Arrow)
    and broadcast it flat — the pair table then streams through one
    mapInPandas with ZERO join shuffles. The analog of a broadcast hash
    join where the build side is the candidate signature slice."""
    return _broadcast_score(pairs, sigs, tau, emit_jaccard=True, urls=urls)


def verified_edges(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: PipelineConfig,
    url_col: str = "url",
    broadcast_cap_bytes: int = 160 << 20,
    n_candidate_urls: int | None = None,
) -> DataFrame:
    """pairs(url_a, url_b) x signatures(url, sig) -> edges(url_a, url_b, jaccard >= tau).

    Physical dispatch: when the candidate signature slice is genuinely
    small (n_candidate_urls * maxsize * 8B <= the cap) use the broadcast
    strategy — no shuffle at all; otherwise the two-phase prefix-prefilter
    join path (the 10^12-scale plan). Cap rationale (round-8 re-measure):
    the slice now collects via ONE Arrow toArrow pass into a flat buffer —
    measured ~2 s for the 99 MB bench-corpus slice INCLUDING the semi-join
    scan (flatten + url-index build 0.04 s, broadcast pickle 1.0 s),
    vs ~120 s for the 320 MB row-pickle toPandas dict that set the old
    48 MB cap — and broadcasting a flat ndarray is a single memcpy-shaped
    pickle; executor-side cost is one mmap-read per python worker. 160 MB
    keeps driver+worker residency bounded (32 workers x slice) while
    letting bench-scale candidate sets take the zero-shuffle path.

    ``n_candidate_urls``: upper bound on distinct urls in ``pairs`` when the
    caller already knows it (the pipeline passes 2x the candidate-stage row
    count from the checkpoint manifest) — avoids spending an extra Spark job
    on a count that only picks the strategy."""
    tau = cfg.jaccard_threshold
    prefilter_k = getattr(cfg, "prefilter_k", PREFILTER_K)
    sigs = signatures.select(F.col(url_col).alias("url"), "sig")

    # The candidate-url set feeds up to three dispatch jobs (the count,
    # the actual-bytes probe, the slice collect's semi-join build side) —
    # persist it ONCE so the explode+distinct over the pair table doesn't
    # re-run per job. Lazy: the pure-join path never materializes it, so
    # the persist/unpersist is free there. Every eager consumer below runs
    # before the function returns, so the unpersist is safe; the returned
    # plan never references it.
    from pyspark.storagelevel import StorageLevel

    urls = _candidate_urls(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_urls = n_candidate_urls if n_candidate_urls is not None else urls.count()
        if n_urls * cfg.sketch.maxsize * 8 <= broadcast_cap_bytes:
            return _broadcast_verify(pairs, sigs, tau, urls=urls)

        if cfg.sketch.maxsize <= prefilter_k:
            # signatures already fit the prefilter width: one exact pass
            joined = _join_sigs(pairs.select("url_a", "url_b"), sigs)
            return (
                joined.withColumn(
                    "jaccard", F.round(_jaccard_udf("sig_a", "sig_b"), 9)
                )
                .where(F.col("jaccard") >= tau)
                .select("url_a", "url_b", "jaccard")
            )

        sigma = math.sqrt(tau * (1.0 - tau) / prefilter_k)
        pre_tau = max(0.0, tau - 6.0 * sigma)
        prefixes = sigs.select("url", F.slice("sig", 1, prefilter_k).alias("sig"))
        # Phase-1 physical dispatch (round 8): the PREFIX slice is
        # prefilter_k/maxsize the size of the full-signature slice, so it
        # often fits the broadcast cap when the full slice does not. The
        # n_candidate_urls manifest bound counts every pair endpoint
        # twice-plus (dup pairs share urls), so when the bound alone fails
        # the cap, spend ONE cheap count job on the narrow pair table to
        # get the actual url count — it routinely unlocks a zero-shuffle
        # phase 1 that replaces two sort-merge joins of the pair x prefix
        # tables (and, when the actual count shows even the FULL slice
        # fits, the single-pass broadcast verify).
        n_act = n_urls
        if (
            n_act * prefilter_k * 8 > broadcast_cap_bytes
            and n_candidate_urls is not None
        ):
            n_act = urls.count()
            if n_act * cfg.sketch.maxsize * 8 <= broadcast_cap_bytes:
                # the bound was pessimistic: the full-signature slice fits
                # after all — one zero-shuffle pass, no prefilter phase
                return _broadcast_verify(pairs, sigs, tau, urls=urls)
        if n_act * prefilter_k * 8 <= broadcast_cap_bytes:
            # Actual-bytes probe (round 8): maxsize is a config CAP, not
            # the real row width — untruncated oracle configs carry
            # maxsize 2^30 while the real candidate slice is a few MB, and
            # the maxsize bound above then forces the two-phase path whose
            # exact phase sort-merge-joins the full signature table twice.
            # The candidate url set is already small enough to broadcast
            # ITS PREFIXES, so one tiny aggregate over the semi-joined
            # slice (same scan the prefix collect pays anyway) measures
            # the true bytes; when they fit the cap, verify is ONE
            # zero-shuffle broadcast pass and the prefilter phase
            # disappears. Never fires at production configs: there
            # maxsize*8*n_act is the tight bound already checked.
            if n_act * cfg.sketch.maxsize * 8 > broadcast_cap_bytes:
                actual = (
                    sigs.join(urls, "url", "semi")
                    .agg(
                        F.coalesce(F.sum(F.size("sig")), F.lit(0)).alias("s")
                    )
                    .first()["s"]
                )
                if int(actual) * 8 <= broadcast_cap_bytes:
                    return _broadcast_verify(pairs, sigs, tau, urls=urls)
            survivors = _broadcast_prefilter(pairs, prefixes, pre_tau, urls=urls)
        else:
            pre = _join_sigs(pairs.select("url_a", "url_b"), prefixes)
            survivors = (
                pre.withColumn("pj", _jaccard_udf("sig_a", "sig_b"))
                .where(F.col("pj") >= pre_tau)
                .select("url_a", "url_b")
            )
        exact = _join_sigs(survivors, sigs)
        return (
            exact.withColumn("jaccard", F.round(_jaccard_udf("sig_a", "sig_b"), 9))
            .where(F.col("jaccard") >= tau)
            .select("url_a", "url_b", "jaccard")
        )
    finally:
        urls.unpersist()
