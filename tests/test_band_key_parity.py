"""band_table's keys are one function of the signature: its rows must
equal the band keys _band_keys_from_values computes in the driver over the
same signatures (C minima kernel), on Arrow batches that split the table
mid-way, and through the numpy minima fallback over a sliced ListArray.
Null and empty signatures emit no rows."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from mashing_pumpkins_spark.config import PipelineConfig
from mashing_pumpkins_spark.operators.banding import _band_keys_from_values, band_table
from mashing_pumpkins_spark.operators.signature import list_layout

CFG = PipelineConfig(n_bands=9, rows_per_band=3, band_input_k=64)


def _signatures(n: int = 60) -> list:
    """(url, sig) rows: uint64-sorted unique sketches of varying length,
    some longer than band_input_k, plus an empty and a null signature."""
    rng = np.random.default_rng(41)
    rows = []
    for i in range(n):
        k = int(rng.integers(1, 150))
        sig = np.unique(rng.integers(0, 2**64, size=k, dtype=np.uint64))
        rows.append((f"u{i:03d}", sig.astype(np.int64).tolist()))
    rows[4] = ("u004", [])
    rows[11] = ("u011", None)
    return rows


@pytest.fixture(scope="module")
def sigs(spark):
    return spark.createDataFrame(_signatures(), "url string, sig array<bigint>")


def _table_rows(sigs) -> set:
    return {
        (r["url"], r["band_id"], r["band_key"])
        for r in band_table(sigs, CFG).collect()
    }


def _driver_rows(arr: pa.Array, urls: list) -> set:
    """_band_keys_from_values over one signature column, exploded with each
    key's position as band_id."""
    nonzero, keys = _band_keys_from_values(*list_layout(arr), CFG)
    return {
        (urls[i], b, int(key))
        for i, row in zip(nonzero, keys)
        for b, key in enumerate(row)
    }


def test_band_keys_udf_matches_band_table(sigs):
    rows = _signatures()
    arr = pa.array([s for _, s in rows], pa.list_(pa.int64()))
    exp = _table_rows(sigs)
    assert exp == _driver_rows(arr, [u for u, _ in rows])
    assert len(exp) == CFG.n_bands * (len(rows) - 2)
    assert not {u for u, _, _ in exp} & {"u004", "u011"}


def test_band_keys_udf_matches_band_table_across_small_batches(spark, sigs):
    exp = _table_rows(sigs)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert _table_rows(sigs) == exp
    finally:
        spark.conf.set(key, prev)


def test_band_keys_udf_numpy_minima_on_sliced_array(sigs, monkeypatch):
    """Worker environments are fixed when the session starts, so the numpy
    minima path runs in the driver: _band_keys_from_values over a sliced
    ListArray, against band_table's rows from the C kernel."""
    from mashing_pumpkins_spark.hashkernels import _hash_cext

    rows = _signatures()
    arr = pa.array([s for _, s in rows], pa.list_(pa.int64()))
    lo, n = 3, 40
    urls = [u for u, _ in rows[lo : lo + n]]
    exp = {r for r in _table_rows(sigs) if r[0] in urls}
    monkeypatch.setenv("MP_SPARK_HASH_CEXT", "0")
    assert _hash_cext.load() is None
    assert _driver_rows(arr.slice(lo, n), urls) == exp
    assert len(exp) == CFG.n_bands * (n - 2)
