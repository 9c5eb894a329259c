"""Sketch-semantics properties (no Spark): numpy engine kernels vs the
independently written streaming heap oracle, mirroring the reference suite.

Each test cites the reference test it reproduces.
"""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pytest

from mashing_pumpkins_spark.config import SketchConfig
from mashing_pumpkins_spark.functions.sketch_np import (
    bray_curtis_dissimilarity,
    counted_signature,
    dice,
    doc_hashes,
    jaccard,
    jaccard_containment,
    merge_counted,
    merge_signatures,
    signature,
)
from mashing_pumpkins_spark.hashkernels import i64_to_u64
from mashing_pumpkins_spark.functions.sketch_np import batch_signatures
from reference_semantics import HeapCountSketch, HeapSketch


def _random_text(rng: random.Random, n: int) -> bytes:
    return bytes(rng.choice(b"ATGC") for _ in range(n))


CFGS = [
    SketchConfig(nsize=21, maxsize=50, hash_name="xxh64", seed=0, minmax="min"),
    SketchConfig(nsize=21, maxsize=50, hash_name="xxh64", seed=0, minmax="max"),
    SketchConfig(
        nsize=21, maxsize=50, hash_name="mmh3_x64_128_low64", seed=42, minmax="min"
    ),
    SketchConfig(nsize=5, maxsize=10, hash_name="xxh64", seed=7, minmax="min"),
]


@pytest.mark.parametrize("cfg", CFGS, ids=[f"{c.hash_name}-{c.minmax}-k{c.maxsize}" for c in CFGS])
def test_signature_equals_heap_oracle(cfg):
    """Engine unique+truncate == streaming heap (mirrors the brute-force
    oracle of /root/reference/src/tests/test_minhashsketch.py:30-60)."""
    rng = random.Random(123)
    for length in (cfg.nsize, 60, 500, 2000):
        data = _random_text(rng, length)
        sig, nvisited = signature(data, cfg)
        oracle = HeapSketch(cfg).add(data)
        assert sig.tolist() == oracle.sorted_values()
        assert nvisited == oracle.nvisited == length - cfg.nsize + 1


def test_signature_shorter_than_nsize_is_empty():
    cfg = CFGS[0]
    sig, nvisited = signature(b"short", cfg)
    assert sig.shape[0] == 0 and nvisited == 0


@pytest.mark.parametrize("cfg", CFGS[:2], ids=["min", "max"])
def test_split_merge_equivalence(cfg):
    """sketch(doc) == merge(sketch(half1), sketch(half2 + nsize-1 overlap))
    — /root/reference/src/tests/test_minhashsketch.py:131-203 and the
    chunkpos_iter overlap rule (/root/reference/src/sequence.py:6-49)."""
    rng = random.Random(42)
    data = _random_text(rng, 1000)
    mid = 500
    whole, nv_whole = signature(data, cfg)
    a, nv_a = signature(data[:mid], cfg)
    b, nv_b = signature(data[mid - cfg.nsize + 1 :], cfg)
    merged = merge_signatures(a, b, cfg.maxsize, cfg.minmax)
    assert merged.tolist() == whole.tolist()
    assert nv_a + nv_b == nv_whole


def test_merge_associative_commutative():
    """reduce order independence — /root/reference/src/tests/test_parallel.py:80-105."""
    cfg = CFGS[0]
    rng = random.Random(7)
    sigs = [signature(_random_text(rng, 300), cfg)[0] for _ in range(4)]
    k = cfg.maxsize

    def m(a, b):
        return merge_signatures(a, b, k)

    left = m(m(m(sigs[0], sigs[1]), sigs[2]), sigs[3])
    right = m(sigs[0], m(sigs[1], m(sigs[2], sigs[3])))
    shuffled = m(m(sigs[3], sigs[1]), m(sigs[2], sigs[0]))
    assert left.tolist() == right.tolist() == shuffled.tolist()


def test_merge_matches_concat_oracle():
    """merge(sketch(a), sketch(b)) == heap sketch fed a then b
    (union semantics of /root/reference/src/minhashsketch.py:178-203)."""
    cfg = CFGS[0]
    rng = random.Random(99)
    da, db = _random_text(rng, 400), _random_text(rng, 700)
    sa, _ = signature(da, cfg)
    sb, _ = signature(db, cfg)
    merged = merge_signatures(sa, sb, cfg.maxsize)
    oracle = HeapSketch(cfg).add(da)
    oracle.update(HeapSketch(cfg).add(db))
    assert merged.tolist() == oracle.sorted_values()


def test_incompatible_config_merge_raises():
    """mirrors ValueError checks /root/reference/src/minhashsketch.py:183-198."""
    a = HeapSketch(CFGS[0]).add(b"A" * 50)
    b = HeapSketch(CFGS[3]).add(b"A" * 50)
    with pytest.raises(ValueError):
        a.update(b)
    with pytest.raises(ValueError):
        _ = a + b


def test_add_hashvalues_does_not_bump_nvisited():
    """/root/reference/src/minhashsketch.py:272-275 + test :238."""
    cfg = CFGS[0]
    sk = HeapSketch(cfg).add(b"T" * 100)
    nv = sk.nvisited
    sk.add_hashvalues([1, 2, 3, 2**64 - 1])
    assert sk.nvisited == nv
    assert 2**64 - 1 in sk or len(sk) == cfg.maxsize


def test_counted_signature_matches_bruteforce_counter():
    """counts == brute-force Counter restricted to retained hashes
    (/root/reference/src/tests/test_minhashsketch.py:315-354)."""
    cfg = SketchConfig(nsize=3, maxsize=8, hash_name="xxh64", seed=0)
    rng = random.Random(5)
    data = _random_text(rng, 200)  # tiny alphabet -> many repeated shingles
    hashes, counts, nvisited = counted_signature(data, cfg)
    brute = Counter(doc_hashes(data, cfg).tolist())
    assert nvisited == 198
    for h, c in zip(hashes.tolist(), counts.tolist()):
        assert brute[h] == c
    # retained = bottom-k distinct
    assert hashes.tolist() == sorted(brute)[: cfg.maxsize]
    # heap-oracle equivalence for counts
    oracle = HeapCountSketch(cfg).add(data)
    assert dict(zip(hashes.tolist(), counts.tolist())) == dict(oracle.counts)


def test_counted_merge_adds_counts_for_survivors():
    """CountTrait.update semantics /root/reference/src/minhashsketch.py:550-558."""
    cfg = SketchConfig(nsize=3, maxsize=8, hash_name="xxh64", seed=0)
    rng = random.Random(11)
    da, db = _random_text(rng, 150), _random_text(rng, 150)
    ha, ca, _ = counted_signature(da, cfg)
    hb, cb, _ = counted_signature(db, cfg)
    mh, mc = merge_counted(ha, ca, hb, cb, cfg.maxsize)
    brute = Counter()
    for h, c in zip(ha.tolist(), ca.tolist()):
        brute[h] += c
    for h, c in zip(hb.tolist(), cb.tolist()):
        brute[h] += c
    expect = sorted(brute)[: cfg.maxsize]
    assert mh.tolist() == expect
    assert mc.tolist() == [brute[h] for h in expect]


def test_estimator_golden_fractions():
    """jaccard 3/7, containment 3/5, dice 3/5 on {1..5} vs {1,2,3,6,7}
    (/root/reference/src/tests/test_minhashsketch.py:420-529)."""
    a = np.array([1, 2, 3, 4, 5], dtype=np.uint64)
    b = np.array([1, 2, 3, 6, 7], dtype=np.uint64)
    assert jaccard(a, b) == pytest.approx(3 / 7)
    assert jaccard_containment(a, b) == pytest.approx(3 / 5)
    assert dice(a, b) == pytest.approx(3 / 5)


def test_bray_curtis_documented_formula():
    """Correct formula (sum of counts), NOT the reference's key-summing bug
    (/root/reference/src/minhashsketch.py:773; SURVEY.md §7.3)."""
    ha = np.array([1, 2, 3], dtype=np.uint64)
    ca = np.array([2, 3, 1], dtype=np.int64)  # S_i = 6
    hb = np.array([2, 3, 4], dtype=np.uint64)
    cb = np.array([1, 5, 2], dtype=np.int64)  # S_j = 8
    # C_ij = min(3,1) + min(1,5) = 2
    assert bray_curtis_dissimilarity(ha, ca, hb, cb) == pytest.approx(1 - 4 / 14)


def test_batch_signatures_match_per_doc():
    """Concatenated batch pass == per-document signatures (boundary windows
    correctly discarded), incl. docs shorter than nsize and multibyte text."""
    cfg = SketchConfig(nsize=21, maxsize=64, hash_name="xxh64", seed=0)
    rng = random.Random(3)
    texts = [
        _random_text(rng, n) for n in (500, 5, 21, 22, 0, 1000, 20)
    ] + ["naïve café 東京 déjà-vu padding padding padding".encode("utf-8")]
    sigs, nvis = batch_signatures(texts, cfg)
    for t, sig_i64, nv in zip(texts, sigs, nvis):
        expect, nv_expect = signature(t, cfg)
        assert i64_to_u64(np.array(sig_i64, dtype=np.int64)).tolist() == expect.tolist()
        assert nv == nv_expect


def test_signature_with_ngrams_roundtrip():
    """O5 ngram retention (reference make_elt): each retained ngram must
    hash back to its sketch entry, and the sig must equal the plain path."""
    import numpy as np

    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.sketch_np import (
        signature,
        signature_with_ngrams,
    )
    from mashing_pumpkins_spark.hashkernels import xxh64

    cfg = SketchConfig(nsize=7, maxsize=16, hash_name="xxh64", seed=0)
    data = ("the quick brown fox jumps over the lazy dog " * 9).encode()
    sig, ngrams, nv = signature_with_ngrams(data, cfg)
    plain_sig, plain_nv = signature(data, cfg)
    assert sig.tolist() == plain_sig.tolist()
    assert nv == plain_nv
    assert len(ngrams) == sig.shape[0]
    for h, g in zip(sig, ngrams):
        assert len(g) == cfg.nsize
        assert g in data  # really a document window
        assert xxh64(g, cfg.seed) == int(h)
    # empty doc
    s, g, n = signature_with_ngrams(b"abc", cfg)
    assert s.shape[0] == 0 and g == [] and n == 0


def test_ngram_signature_udf_spark(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from mashing_pumpkins_spark.config import SketchConfig
    from mashing_pumpkins_spark.functions.sketch_np import signature_with_ngrams
    from mashing_pumpkins_spark.hashkernels import u64_to_i64
    from mashing_pumpkins_spark.operators.signature import make_ngram_signature_udf

    cfg = SketchConfig(nsize=7, maxsize=8, hash_name="xxh64", seed=0)
    texts = ["pack my box with five dozen liquor jugs " * 4, "", "naïve café " * 10]
    df = spark.createDataFrame(pd.DataFrame({"url": ["a", "b", "c"], "text": texts}))
    udf = make_ngram_signature_udf(cfg)
    rows = {
        r["url"]: r["s"]
        for r in df.select("url", udf(F.col("text")).alias("s")).collect()
    }
    for url, text in zip(["a", "b", "c"], texts):
        es, eg, en = signature_with_ngrams(text.encode(), cfg)
        got = rows[url]
        assert list(got["sig"]) == u64_to_i64(es).tolist()
        assert [bytes(x) for x in got["ngrams"]] == eg
        assert got["nvisited"] == en
