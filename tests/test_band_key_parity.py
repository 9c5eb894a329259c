"""Streaming and batch band keys must be identical: make_band_keys_udf (the
Arrow UDF the streaming path explodes) and band_table (the batch
mapInArrow) share list_layout and _band_keys_from_values. Exploding the
UDF's keys with their position as band_id must give exactly band_table's
rows — on null and empty signatures, on Arrow batches that split the table
mid-way, and on the numpy minima path over a sliced ListArray."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig
from mashing_pumpkins_spark.operators.banding import band_table, make_band_keys_udf

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


def _udf_rows(sigs) -> set:
    exploded = sigs.select(
        "url", F.posexplode(make_band_keys_udf(CFG)("sig")).alias("band_id", "band_key")
    )
    return {(r["url"], r["band_id"], r["band_key"]) for r in exploded.collect()}


def _table_rows(sigs) -> set:
    return {
        (r["url"], r["band_id"], r["band_key"])
        for r in band_table(sigs, CFG).collect()
    }


def test_band_keys_udf_matches_band_table(sigs):
    got = _udf_rows(sigs)
    exp = _table_rows(sigs)
    assert got == exp
    assert len(exp) == CFG.n_bands * (len(_signatures()) - 2)
    assert not {u for u, _, _ in exp} & {"u004", "u011"}


def test_band_keys_udf_matches_band_table_across_small_batches(spark, sigs):
    exp = _table_rows(sigs)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert _udf_rows(sigs) == exp
        assert _table_rows(sigs) == exp
    finally:
        spark.conf.set(key, prev)


def test_band_keys_udf_numpy_minima_on_sliced_array(sigs, monkeypatch):
    """Worker environments are fixed when the session starts, so the numpy
    minima path runs in the driver: the UDF's function over a sliced
    ListArray, against band_table's rows from the C kernel."""
    from mashing_pumpkins_spark.hashkernels import _hash_cext

    by_url: dict = {}
    for url, _, key in sorted(_table_rows(sigs)):
        by_url.setdefault(url, []).append(key)
    rows = _signatures()
    arr = pa.array([s for _, s in rows], pa.list_(pa.int64()))
    monkeypatch.setenv("MP_SPARK_HASH_CEXT", "0")
    assert _hash_cext.load() is None
    lo, n = 3, 40
    got = make_band_keys_udf(CFG).func(arr.slice(lo, n))
    assert len(got) == n
    for (url, _), keys in zip(rows[lo : lo + n], got.to_pylist()):
        assert keys == by_url.get(url, []), url
