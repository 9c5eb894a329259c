"""Spark-side signature operator + estimator expressions vs numpy engine."""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import SketchConfig
from mashing_pumpkins_spark.functions.estimators import (
    dice_similarity,
    jaccard_containment,
    jaccard_similarity,
    merge_sketch_arrays,
)
from mashing_pumpkins_spark.functions.sketch_np import merge_signatures, signature
from mashing_pumpkins_spark.hashkernels import i64_to_u64, u64_to_i64
from mashing_pumpkins_spark.operators.signature import sketch_table
from mashing_pumpkins_spark.sources.synthetic import generate_pages

CFG = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)


@pytest.fixture(scope="module")
def pages_df(spark):
    pages, _ = generate_pages(120, seed=42)
    return spark.createDataFrame(pages)


@pytest.mark.parametrize("minmax", ["min", "max"])
@pytest.mark.parametrize("id_col", ["url", "doc_id"])
def test_sketch_table_matches_numpy(spark, pages_df, minmax, id_col):
    """Every config direction, keyed by a string url or by the bigint
    doc_id the entry queries pass."""
    cfg = dataclasses.replace(CFG, minmax=minmax)
    docs = pages_df.select(
        F.monotonically_increasing_id().alias("doc_id"), "url", "text"
    )
    texts = {r[id_col]: r["text"] for r in docs.collect()}
    out = sketch_table(docs, cfg, url_col=id_col).collect()
    assert len(out) == 120 and len(texts) == 120
    for row in out:
        expect, nv = signature(texts[row[id_col]].encode("utf-8"), cfg)
        got = i64_to_u64(np.array(row["sig"], dtype=np.int64))
        assert got.tolist() == expect.tolist(), row[id_col]
        assert row["nvisited"] == nv


def test_extract_text_byte_identity(spark, pages_df):
    """BASELINE.json input_hint invariant: text recovered from html is
    byte-identical to the text column (extract stage contract). The html
    column is a full rendered page (inline tags, charrefs, script/style
    noise) — recovery goes through the real HTML extractor."""
    from mashing_pumpkins_spark.operators.extraction import extracted_text_col

    bad = pages_df.where(
        extracted_text_col(F.col("html")) != F.col("text")
    ).count()
    assert bad == 0


def test_estimator_columns_golden(spark):
    a = u64_to_i64(np.array([1, 2, 3, 4, 5], dtype=np.uint64)).tolist()
    b = u64_to_i64(np.array([1, 2, 3, 6, 7], dtype=np.uint64)).tolist()
    df = spark.createDataFrame([(a, b)], "a array<long>, b array<long>")
    row = df.select(
        jaccard_similarity(F.col("a"), F.col("b")).alias("j"),
        jaccard_containment(F.col("a"), F.col("b")).alias("c"),
        dice_similarity(F.col("a"), F.col("b")).alias("d"),
    ).first()
    assert row["j"] == pytest.approx(3 / 7)
    assert row["c"] == pytest.approx(3 / 5)
    assert row["d"] == pytest.approx(3 / 5)


@pytest.mark.parametrize("minmax", ["min", "max"])
def test_merge_sketch_arrays_unsigned_order(spark, minmax):
    """Column-expression merge == numpy merge, incl. values above 2^63
    (the signed-sort trap)."""
    a_u = np.array([2**63 + 5, 3, 2**64 - 1], dtype=np.uint64)
    b_u = np.array([1, 2**63 + 5, 9, 2**62], dtype=np.uint64)
    k = 4
    expect = merge_signatures(a_u, b_u, k, minmax).tolist()
    df = spark.createDataFrame(
        [(u64_to_i64(a_u).tolist(), u64_to_i64(b_u).tolist())],
        "a array<long>, b array<long>",
    )
    got = df.select(merge_sketch_arrays(F.col("a"), F.col("b"), k, minmax).alias("m")).first()["m"]
    assert i64_to_u64(np.array(got, dtype=np.int64)).tolist() == expect


def test_signature_plan_prunes_columns(spark, tmp_path):
    """Parquet scan under the sketch stage must read only url+text."""
    pages, _ = generate_pages(50, seed=1)
    path = str(tmp_path / "pages.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pages, preserve_index=False), path)
    df = spark.read.parquet(path)
    plan = sketch_table(df, CFG)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_sketch_table_arrow_null_and_empty_text(spark):
    """The mapInArrow path must treat null/empty/short texts as empty
    sketches (nvisited 0), like the pandas path's fillna did."""
    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.signature import sketch_table

    df = spark.createDataFrame(
        [("a", None), ("b", ""), ("c", "short"), ("d", "x" * 50)],
        "url string, text string",
    )
    cfg = SketchConfig(nsize=21, maxsize=16, hash_name="xxh64", seed=0)
    rows = {r["url"]: r for r in sketch_table(df, cfg).collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    for u in ("a", "b", "c"):
        assert list(rows[u]["sig"]) == [] and rows[u]["nvisited"] == 0, u
    assert rows["d"]["nvisited"] == 30 and len(rows["d"]["sig"]) >= 1
