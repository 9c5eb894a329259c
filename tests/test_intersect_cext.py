"""The C sorted-merge intersect kernel, through the one scorer every
verify path uses (operators/verify._jaccard), must be bit-identical to the
numpy np.intersect1d path on every input class the verify stage can see:
sorted-unique sketch arrays (the real case), null and empty rows, sliced
Arrow arrays, and adversarial unsorted/duplicate arrays (which must be
detected and rerouted through the numpy fallback). Both callers are
driven: the join path's Arrow UDF (_jaccard_udf) and the broadcast path's
call into _jaccard over a collected layout."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from mashing_pumpkins_spark.operators import _intersect_cext as ic
from mashing_pumpkins_spark.operators.signature import list_layout
from mashing_pumpkins_spark.operators.verify import _jaccard, _jaccard_udf

SIG = pa.list_(pa.int64())


def _ref_jaccard(a, b) -> float:
    if a is None or b is None:
        return 0.0
    xa = np.asarray(a, dtype=np.int64)
    yb = np.asarray(b, dtype=np.int64)
    if xa.shape[0] == 0 or yb.shape[0] == 0:
        return 0.0
    inter = np.intersect1d(xa, yb, assume_unique=True).shape[0]
    return inter / (xa.shape[0] + yb.shape[0] - inter)


def _rand_sig(rng, n):
    # uint64-sorted unique values spanning the signed/unsigned boundary
    # (sketch arrays are stored int64 but sorted in UNSIGNED order)
    v = np.unique(
        rng.integers(0, 2**64, size=n, dtype=np.uint64) if n else
        np.empty(0, dtype=np.uint64)
    )
    return v.astype(np.int64)


def _sketch_columns(rng, n):
    """Row-aligned sorted-unique columns with planted overlaps, a null row
    on each side and empty rows (lengths drawn from 0)."""
    cols_a, cols_b = [], []
    for _ in range(n):
        cols_a.append(_rand_sig(rng, int(rng.integers(0, 80))))
        cols_b.append(_rand_sig(rng, int(rng.integers(0, 80))))
    for i in range(0, n, 3):
        shared = _rand_sig(rng, 20).view(np.uint64)
        cols_a[i] = np.union1d(cols_a[i].view(np.uint64), shared).astype(np.int64)
        cols_b[i] = np.union1d(cols_b[i].view(np.uint64), shared).astype(np.int64)
    cols_a[5] = None
    cols_b[7] = None
    return cols_a, cols_b


def _adversarial_columns(rng, n):
    cols_a, cols_b = [], []
    for i in range(n):
        a = _rand_sig(rng, int(rng.integers(2, 40)))
        b = _rand_sig(rng, int(rng.integers(2, 40)))
        if i % 4 == 0:
            a = a[::-1].copy()  # unsorted
        if i % 5 == 0:
            b = np.concatenate([b, b[:1]])  # duplicate value
        cols_a.append(a)
        cols_b.append(b)
    return cols_a, cols_b


def _udf_scores(cols_a, cols_b) -> np.ndarray:
    got = _jaccard_udf.func(pa.array(cols_a, SIG), pa.array(cols_b, SIG))
    assert got.type == pa.float64() and got.null_count == 0
    return got.to_numpy()


def _broadcast_scores(cols_a, cols_b) -> np.ndarray:
    """The broadcast path's shape: one collected layout holding every row,
    pairs addressed by row index."""
    vals, starts, lens = list_layout(pa.array(cols_a + cols_b, SIG))
    viol = ic.violating_rows(vals, starts, lens)
    ia = np.arange(len(cols_a), dtype=np.int64)
    return _jaccard(vals, starts, lens, viol, ia, ia + len(cols_a))


def _expected(cols_a, cols_b) -> np.ndarray:
    return np.array(
        [_ref_jaccard(a, b) for a, b in zip(cols_a, cols_b)], dtype=np.float64
    )


def test_kernel_loads():
    assert ic.load() is not None, "a host C compiler is expected"


def test_jaccard_udf_matches_numpy_reference():
    cols_a, cols_b = _sketch_columns(np.random.default_rng(11), 400)
    exp = _expected(cols_a, cols_b)
    assert np.array_equal(_udf_scores(cols_a, cols_b), exp)  # bit-identical
    assert np.array_equal(_broadcast_scores(cols_a, cols_b), exp)


def test_unsorted_and_duplicate_rows_reroute_to_numpy():
    cols_a, cols_b = _adversarial_columns(np.random.default_rng(13), 120)
    exp = _expected(cols_a, cols_b)
    assert np.array_equal(_udf_scores(cols_a, cols_b), exp)
    assert np.array_equal(_broadcast_scores(cols_a, cols_b), exp)


def test_jaccard_udf_on_sliced_list_arrays():
    """A sliced ListArray (offset != 0) keeps its parent's child buffer;
    list_layout must read it through the absolute offsets. The slices also
    cut through unsorted rows, whose neighbours outside the slice must not
    be attributed to rows inside it."""
    rng = np.random.default_rng(29)
    cols_a, cols_b = _sketch_columns(rng, 300)
    adv_a, adv_b = _adversarial_columns(rng, 60)
    cols_a, cols_b = adv_a[:30] + cols_a + adv_a[30:], adv_b[:30] + cols_b + adv_b[30:]
    arr_a, arr_b = pa.array(cols_a, SIG), pa.array(cols_b, SIG)
    for lo, n in ((0, 50), (17, 200), (29, 331), (250, 110)):
        got = _jaccard_udf.func(arr_a.slice(lo, n), arr_b.slice(lo, n))
        exp = _expected(cols_a[lo : lo + n], cols_b[lo : lo + n])
        assert np.array_equal(got.to_numpy(), exp), (lo, n)
    # the two sides sliced at different offsets of different parents
    got = _jaccard_udf.func(arr_a.slice(3, 100), arr_b.slice(40, 100))
    assert np.array_equal(got.to_numpy(), _expected(cols_a[3:103], cols_b[40:140]))


def test_indexed_variant_matches_reference():
    rng = np.random.default_rng(17)
    arrays = [_rand_sig(rng, int(rng.integers(0, 50))) for _ in range(100)]
    lens = np.fromiter((a.shape[0] for a in arrays), np.int64, 100)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
    flat = np.concatenate(arrays)
    ia = rng.integers(-1, 100, size=600).astype(np.int64)
    ib = rng.integers(-1, 100, size=600).astype(np.int64)
    got = ic.intersect_counts_indexed(flat, starts, lens, ia, ib)
    if got is None:
        pytest.skip("no host compiler")
    for p in range(600):
        if ia[p] < 0 or ib[p] < 0:
            assert got[p] == 0
            continue
        exp = np.intersect1d(
            arrays[ia[p]], arrays[ib[p]], assume_unique=True
        ).shape[0]
        assert got[p] == exp


def test_violating_rows_flags_exactly_the_bad_arrays():
    rng = np.random.default_rng(19)
    arrays = []
    bad = set()
    for i in range(150):
        a = _rand_sig(rng, int(rng.integers(0, 30)))
        if i % 7 == 0 and a.shape[0] > 2:
            a = a[::-1].copy()
        u = a.view(np.uint64)
        if a.shape[0] > 1 and bool(np.any(u[1:] <= u[:-1])):
            bad.add(i)
        arrays.append(a)
    lens = np.fromiter((a.shape[0] for a in arrays), np.int64, 150)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
    flat = np.concatenate(arrays)
    got = set(ic.violating_rows(flat, starts, lens).tolist())
    assert got == bad


def test_kill_switch_falls_back(monkeypatch):
    monkeypatch.setenv("MP_SPARK_INTERSECT_CEXT", "0")
    assert ic.load() is None
    rng = np.random.default_rng(23)
    cols_a, cols_b = _sketch_columns(rng, 60)
    adv_a, adv_b = _adversarial_columns(rng, 20)
    cols_a, cols_b = cols_a + adv_a, cols_b + adv_b
    exp = _expected(cols_a, cols_b)
    assert np.array_equal(_udf_scores(cols_a, cols_b), exp)
    assert np.array_equal(_broadcast_scores(cols_a, cols_b), exp)
