"""Group sketch rollup: Spark grouped merge == heap-oracle merge; plus the
KMV distinct-count estimator property the sketch carries for free."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from mashing_pumpkins_spark.config import SketchConfig
from mashing_pumpkins_spark.hashkernels import i64_to_u64
from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup
from reference_semantics import HeapSketch


def test_rollup_matches_heap_oracle_merge(spark):
    cfg = SketchConfig(nsize=21, maxsize=32, hash_name="xxh64", seed=0)
    rng = random.Random(4)
    rows = []
    for i in range(40):
        words = " ".join(f"w{rng.randrange(400)}" for _ in range(60))
        rows.append((f"g{i % 3}", f"d{i}", words))
    docs = spark.createDataFrame(rows, "source string, doc_id string, text string")
    rolled = {
        r["group"]: r
        for r in group_sketch_rollup(docs, cfg, "source").collect()
    }
    for g in ("g0", "g1", "g2"):
        oracle = HeapSketch(cfg)
        for src, _d, text in rows:
            if src == g:
                oracle.update(HeapSketch(cfg).add(text.encode("utf-8")))
        got = i64_to_u64(np.array(rolled[g]["sig"], dtype=np.int64)).tolist()
        assert got == oracle.sorted_values(), g
        assert rolled[g]["nvisited"] == oracle.nvisited, g


def test_kmv_distinct_count_estimator():
    """The bottom-k sketch IS a KMV distinct-count estimator:
    n_hat = (k-1) * 2^64 / h_(k) (SURVEY §2.2 aggregation row)."""
    from mashing_pumpkins_spark.functions.sketch_np import signature

    cfg = SketchConfig(nsize=8, maxsize=256, hash_name="xxh64", seed=0)
    rng = random.Random(8)
    data = bytes(rng.randrange(256) for _ in range(60000))
    sig, _ = signature(data, cfg)
    true_distinct = len({data[i : i + 8] for i in range(len(data) - 7)})
    kth = int(sig[-1])
    est = (cfg.maxsize - 1) * (2**64) / kth
    assert est == pytest.approx(true_distinct, rel=0.15)


def test_add_hashvalues_column(spark):
    """Engine-level add_hashvalues (reference minhashsketch.py:439-475):
    raw hash values union into a stored signature under the bottom-k
    invariant; nvisited is NOT bumped."""
    import numpy as np

    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.estimators import add_hashvalues
    from mashing_pumpkins_spark.functions.sketch_np import merge_signatures
    from mashing_pumpkins_spark.hashkernels import i64_to_u64, u64_to_i64
    from pyspark.sql import functions as F

    cfg = SketchConfig(maxsize=8)
    rng = np.random.default_rng(3)
    # values straddling 2^63 so the unsigned-order slice is exercised
    sig = u64_to_i64(np.sort(rng.integers(0, 2**64, 6, dtype=np.uint64)))
    extra = u64_to_i64(rng.integers(0, 2**64, 7, dtype=np.uint64))
    df = spark.createDataFrame(
        [(sig.tolist(), extra.tolist(), 6)],
        "sig array<long>, extra array<long>, nvisited long",
    )
    out = df.select(
        add_hashvalues(F.col("sig"), F.col("extra"), cfg.maxsize).alias("sig"),
        "nvisited",
    ).first()
    expect = merge_signatures(
        i64_to_u64(sig), i64_to_u64(np.asarray(extra)), cfg.maxsize
    )
    assert out["sig"] == u64_to_i64(expect).tolist()
    assert out["nvisited"] == 6  # untouched, matching the reference note


def test_rollup_two_level_matches_single_level(spark):
    """Map-side-combine analog: sharded partial merges + final merge must
    equal the single-level rollup exactly (associativity), including summed
    nvisited with duplicate documents in a hot group."""
    import pandas as pd

    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.operators.rollup import group_sketch_rollup

    cfg = SketchConfig(nsize=7, maxsize=32, hash_name="xxh64", seed=0)
    rows = {"src": [], "text": []}
    for i in range(120):  # hot group with duplicates
        rows["src"].append("hot")
        rows["text"].append(f"the quick brown fox {i % 10} jumps over")
    for i in range(15):
        rows["src"].append(f"cold{i % 3}")
        rows["text"].append(f"pack my box with {i} dozen jugs")
    docs = spark.createDataFrame(pd.DataFrame(rows))
    one = {
        r["group"]: (list(r["sig"]), r["nvisited"])
        for r in group_sketch_rollup(docs, cfg, "src").collect()
    }
    two = {
        r["group"]: (list(r["sig"]), r["nvisited"])
        for r in group_sketch_rollup(docs, cfg, "src", partial_shards=8).collect()
    }
    assert one == two
    assert "hot" in one and one["hot"][1] > 0
