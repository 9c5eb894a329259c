"""verified_edges physical strategies must agree: broadcast-dict (small
slice), two-phase prefix-prefilter join (maxsize > 256), single-phase join
(maxsize <= 256)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mashing_pumpkins_spark.config import PipelineConfig, SketchConfig
from mashing_pumpkins_spark.operators.signature import sketch_table
from mashing_pumpkins_spark.operators.verify import verified_edges


@pytest.fixture(scope="module")
def docs_and_pairs(spark):
    rng = random.Random(17)
    vocab = [f"tok{i}" for i in range(800)]
    texts = []
    base = [rng.choice(vocab) for _ in range(300)]
    for i in range(30):
        t = list(base)
        for _ in range(rng.randrange(0, 40)):  # 0-13% edits
            t[rng.randrange(len(t))] = rng.choice(vocab)
        texts.append((f"u{i:03d}", " ".join(t)))
    for i in range(30, 60):  # unrelated docs
        texts.append((f"u{i:03d}", " ".join(rng.choice(vocab) for _ in range(300))))
    docs = spark.createDataFrame(texts, "url string, text string")
    pairs = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a in range(60) for b in range(a + 1, 60)],
        "url_a string, url_b string",
    )
    return docs, pairs


@pytest.mark.parametrize("maxsize", [256, 1000])
def test_broadcast_and_join_paths_agree(spark, docs_and_pairs, maxsize):
    docs, pairs = docs_and_pairs
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=maxsize, hash_name="xxh64", seed=0),
        jaccard_threshold=0.5,
    )
    sigs = sketch_table(docs, cfg.sketch)
    via_bcast = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=1 << 40)
    via_join = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    b = sorted((r["url_a"], r["url_b"], round(r["jaccard"], 9)) for r in via_bcast.collect())
    j = sorted((r["url_a"], r["url_b"], round(r["jaccard"], 9)) for r in via_join.collect())
    assert b == j
    assert len(b) > 5  # fixture actually plants verifiable pairs
    assert all(x[2] >= 0.5 for x in b)


def test_prefilter_k_knob_same_edges(spark, docs_and_pairs):
    """The configurable prefilter width must not change the final edge set —
    phase 1 is only ever a superset filter; wider K only tightens the
    false-drop tail."""
    docs, pairs = docs_and_pairs
    cfg128 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=128,
    )
    cfg64 = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=1000, hash_name="xxh64", seed=0),
        jaccard_threshold=0.7,
        prefilter_k=64,
    )
    sigs = sketch_table(docs, cfg128.sketch)
    got128 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg128, broadcast_cap_bytes=0).collect()
    }
    got64 = {
        (r["url_a"], r["url_b"], r["jaccard"])
        for r in verified_edges(pairs, sigs, cfg64, broadcast_cap_bytes=0).collect()
    }
    assert got128 == got64 and len(got64) > 0


def test_broadcast_redo_rows_match_join_path(spark):
    """Unsorted or duplicate-valued signature arrays are re-scored with
    np.intersect1d in both physical paths (the broadcast scan picks them by
    np.isin on the violating row set); the jaccards must agree exactly."""
    rng = random.Random(5)
    rows = []
    for i in range(40):
        sig = sorted(rng.sample(range(1, 90), 60))
        if i % 3 == 0:
            sig = sig[::-1]  # unsorted
        if i % 4 == 0:
            sig = sig + sig[:2]  # duplicate values
        rows.append((f"u{i:03d}", sig))
    sigs = spark.createDataFrame(rows, "url string, sig array<bigint>")
    pairs = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a in range(40) for b in range(a + 1, 40)],
        "url_a string, url_b string",
    )
    cfg = PipelineConfig(
        sketch=SketchConfig(nsize=21, maxsize=256, hash_name="xxh64", seed=0),
        jaccard_threshold=0.45,
    )
    via_bcast = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=1 << 40)
    via_join = verified_edges(pairs, sigs, cfg, broadcast_cap_bytes=0)
    b = sorted((r["url_a"], r["url_b"], r["jaccard"]) for r in via_bcast.collect())
    j = sorted((r["url_a"], r["url_b"], r["jaccard"]) for r in via_join.collect())
    assert b == j and len(b) > 50
